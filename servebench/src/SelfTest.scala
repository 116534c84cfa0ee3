package servebench

/** Unit checks of the benchmark's own code: the percentile rule, the answer
  * checkers catching a wrong answer, and the refresh invariant catching torn
  * and stale reads. Run with `python3 servebench/run.py --selftest`. */
object SelfTest {
  private var failed = 0
  private var passed = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => System.err.println(e); false }
    if (ok) passed += 1 else { failed += 1; println(s"FAIL $name") }
  }

  def main(args: Array[String]): Unit = {
    // percentile rule: at least ten samples beyond the reported percentile
    val xs999 = (1 to 999).map(_.toDouble)
    val xs1000 = (1 to 1000).map(_.toDouble)
    check("p99 refused with 999 samples")(Stats.pctl(xs999, 0.99).isEmpty)
    check("p99 reported with 1000 samples")(Stats.pctl(xs1000, 0.99).contains(990.0))
    check("exactly ten samples beyond p99")(xs1000.count(_ > Stats.pctl(xs1000, 0.99).get) == 10)
    check("p50 needs 20 samples")(Stats.pctl((1 to 19).map(_.toDouble), 0.5).isEmpty &&
      Stats.pctl((1 to 20).map(_.toDouble), 0.5).contains(10.0))
    check("median of even count")(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    check("geometric mean")(math.abs(Stats.geomean(Seq(1.0, 10.0, 100.0)) - 10.0) < 1e-9)

    // answer checkers: the same rows through every wire format agree, and a
    // deliberately wrong answer is caught
    val json = """[{"k":1,"name":"a","bal":10.50},{"k":2,"name":"b","bal":-3.00}]""".getBytes("UTF-8")
    val csv = "k,name,bal\n1,a,10.5\n2,b,-3.00\n".getBytes("UTF-8")
    val expected = Answer(IndexedSeq(
      IndexedSeq(1, "a", new java.math.BigDecimal("10.50")),
      IndexedSeq(2, "b", new java.math.BigDecimal("-3"))).map(_.map(Check.norm)), ordered = true)
    check("json matches the oracle")(Check.fromJson(json, ordered = true).digest.sameAs(expected.digest))
    check("csv matches the oracle")(Check.fromCsv(csv, ordered = true).digest.sameAs(expected.digest))
    check("pg text matches the oracle")(Check.fromText(Seq(Seq("1", "a", "10.500"), Seq("2", "b", "-3")),
      ordered = true).digest.sameAs(expected.digest))
    val wrongValue = """[{"k":1,"name":"a","bal":10.51},{"k":2,"name":"b","bal":-3.00}]""".getBytes("UTF-8")
    val wrongOrder = """[{"k":2,"name":"b","bal":-3},{"k":1,"name":"a","bal":10.5}]""".getBytes("UTF-8")
    val missingRow = """[{"k":1,"name":"a","bal":10.5}]""".getBytes("UTF-8")
    check("a wrong value is caught")(!Check.fromJson(wrongValue, ordered = true).digest.sameAs(expected.digest))
    check("a wrong order is caught when order matters")(
      !Check.fromJson(wrongOrder, ordered = true).digest.sameAs(expected.digest))
    check("order is ignored when it does not matter")(
      Check.fromJson(wrongOrder, ordered = false).digest.sameAs(expected.copy(ordered = false).digest))
    check("a missing row is caught")(!Check.fromJson(missingRow, ordered = true).digest.sameAs(expected.digest))
    check("csv quoting")(Check.fromCsv("a,b\n\"x,\"\"y\",2\n".getBytes("UTF-8"), ordered = true).rows ==
      IndexedSeq(IndexedSeq("x,\"y", "2")))
    check("doubles normalize to 12 digits")(Check.norm(0.1 + 0.2) == Check.normText("0.3"))

    // refresh invariant: cumulative totals per batch
    val cum = IndexedSeq(Check.Totals(100, 5000), Check.Totals(120, 5600), Check.Totals(140, 6100))
    check("a consistent read passes")(Check.refreshRead(1, 120, 5600, cum).isEmpty)
    check("a torn read is caught")(Check.refreshRead(2, 130, 5600, cum).isDefined)
    check("a duplicated batch is caught")(Check.refreshRead(1, 140, 6200, cum).isDefined)
    check("an unknown batch is caught")(Check.refreshRead(3, 160, 6600, cum).isDefined)
    val ms = 1000000L
    val commits = IndexedSeq(0L, 100 * ms, 200 * ms)
    val good = Seq(Check.Read(1, 10 * ms, 20 * ms, 0), Check.Read(2, 150 * ms, 160 * ms, 1),
      Check.Read(3, 170 * ms, 180 * ms, 1))
    check("monotonic reads pass")(Check.staleReads(good, commits, 1000 * ms).isEmpty)
    val backwards = good :+ Check.Read(4, 190 * ms, 195 * ms, 0)
    check("a read going back in time is caught")(
      Check.staleReads(backwards, commits, 1000 * ms).map(_._1.id) == Seq(4))
    val lagging = Seq(Check.Read(5, 1500 * ms, 1510 * ms, 1))
    check("a read lagging past the limit is caught")(
      Check.staleReads(lagging, commits, 1000 * ms).map(_._1.id) == Seq(5))

    // serve_hot: the seed moves which keys are popular, not how many
    // requests of the window ask for a key not asked for before
    def misses(seed: Long): Int = {
      val hot = new ServeHot(seed)
      val seen = scala.collection.mutable.Set[(String, Long, Long)]()
      (0 until 1400).map(hot.req).count(r => seen.add((r.kind, r.a, r.b)) && r.id >= 700)
    }
    val hotMisses = misses(1)
    check("serve_hot misses some keys")(hotMisses > 50 && hotMisses < 700)
    check("serve_hot's miss count does not depend on the seed")(misses(2) == hotMisses && misses(77) == hotMisses)
    check("serve_hot's keys depend on the seed")(
      (0 until 100).map(new ServeHot(1).req) != (0 until 100).map(new ServeHot(2).req))

    // span self time: children covering overlapping parts count once
    val spans = Seq(Span(1, 0, 1, "p", 0, 100), Span(2, 1, 1, "c", 10, 40),
      Span(3, 1, 1, "c", 30, 60), Span(4, 1, 1, "c", 90, 120))
    check("self time subtracts the union of children")(Tracer.selfTimes(spans)(1) == 100 - 50 - 10)

    println(s"""{"selftest":{"passed":$passed,"failed":$failed}}""")
    System.exit(if (failed == 0) 0 else 1)
  }
}
