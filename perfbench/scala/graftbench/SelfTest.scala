package graftbench

/** Tests of the benchmark's own logic — percentiles, span self time,
  * generator determinism and every output check — with no Spark session.
  * Run: `python3 perfbench/run.py --selftest`. Exits non-zero if any
  * test fails. */
object SelfTest {
  private var failed = 0
  private var passed = 0

  private def test(name: String)(ok: => Boolean): Unit = {
    val r = try ok catch { case e: Throwable => System.err.println(e); false }
    if (r) passed += 1 else { failed += 1; println(s"FAIL $name") }
  }

  def main(args: Array[String]): Unit = {
    // ---- percentile rule and sample counts ----
    test("p50 needs 20 samples, p75 40, p90 100") {
      Stats.minSamples(0.5) == 20 && Stats.minSamples(0.75) == 40 && Stats.minSamples(0.9) == 100
    }
    test("a tail percentile is withheld below its sample count") {
      val xs = (1 to 99).map(_.toDouble)
      Stats.tail(xs, 0.9).isEmpty && Stats.tail(xs :+ 100.0, 0.9).isDefined &&
        Stats.tail(xs.take(19), 0.5).isEmpty && Stats.tail(xs.take(20), 0.5).isDefined
    }
    test("percentiles interpolate linearly (Python's inclusive quantiles)") {
      Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5 &&
        Stats.percentile((0 to 100).map(_.toDouble), 0.9) == 90.0 &&
        math.abs(Stats.percentile(Seq(1.0, 2.0, 4.0, 8.0), 0.75) - 5.0) < 1e-12 &&
        Stats.median(Seq(7.0)) == 7.0
    }

    // ---- span self time ----
    def span(id: Int, parent: Int, s: Long, e: Long) = Span(id, "l", "n", parent, 0, s, e)
    test("self time without children is the whole span") {
      Trace.selfNs(span(0, -1, 0, 100), Nil) == 100
    }
    test("self time subtracts nested children") {
      Trace.selfNs(span(0, -1, 0, 100), Seq(span(1, 0, 10, 30), span(2, 0, 40, 70))) == 50
    }
    test("overlapping children are counted once, clipped to the parent") {
      // union of [10,30] [20,50] [90,120] inside [0,100] = 40 + 10
      Trace.selfNs(span(0, -1, 0, 100),
        Seq(span(1, 0, 10, 30), span(2, 0, 20, 50), span(3, 0, 90, 120))) == 50 &&
        Trace.covered(0, 100, Seq((-5L, 200L))) == 100 &&
        Trace.covered(0, 100, Seq((10L, 20L), (10L, 20L), (15L, 18L))) == 10
    }

    // ---- generator determinism ----
    test("events: same seed, same intervals; another seed differs") {
      Gen.events(5, 30, 10, 800) == Gen.events(5, 30, 10, 800) &&
        Gen.events(5, 30, 10, 800) != Gen.events(6, 30, 10, 800)
    }
    test("events: fixed rows per block, each interval ends on its upper bound") {
      val ivs = Gen.events(9, 40, 10, 800)
      ivs.grouped(10).forall(_.map(_.rows.size).sum == 800) &&
        ivs.forall(iv => iv.rows.last.tsMs == iv.upperMs && iv.rows.forall(_.tsMs <= iv.upperMs)) &&
        ivs.flatMap(_.rows).map(_.eventId).distinct.size == 4 * 800
    }
    test("corpus, customers, vectors, queries, requests are seed-deterministic") {
      val v = Gen.vocabulary(3, 500)
      Gen.corpus(3, 300, 0.03, 0.05, 1 to 6, v) == Gen.corpus(3, 300, 0.03, 0.05, 1 to 6, v) &&
        Gen.corpus(3, 300, 0.03, 0.05, 1 to 6, v) != Gen.corpus(4, 300, 0.03, 0.05, 1 to 6, v) &&
        Gen.customers(3, 200, 0.05) == Gen.customers(3, 200, 0.05) &&
        Gen.vectors(3, 50, 8).map(_.toSeq) == Gen.vectors(3, 50, 8).map(_.toSeq) &&
        Gen.requests(3, 10, 4) == Gen.requests(3, 10, 4) &&
        Gen.objects(3, 1, 4).map(x => (x._1, x._2.toSeq)) == Gen.objects(3, 1, 4).map(x => (x._1, x._2.toSeq))
    }
    test("planted near-dups and typos are what they claim") {
      val v = Gen.vocabulary(1, 500)
      val c = Gen.corpus(1, 400, 0.03, 0.05, 1 to 6, v)
      val text = c.docs.map(d => d.docId -> d.text).toMap
      val (names, typos) = Gen.customers(1, 400, 0.05)
      val name = names.toMap
      def ed1(a: String, b: String): Boolean =
        if (a.length == b.length) a.zip(b).count(p => p._1 != p._2) == 1
        else if (math.abs(a.length - b.length) == 1) {
          val (s, l) = if (a.length < b.length) (a, b) else (b, a)
          (0 to s.length).exists(i => l.substring(0, i) + l.substring(i + 1) == s)
        } else false
      c.nearDups.forall(p => text(p.orig).split(" ").zip(text(p.copy).split(" "))
        .count(w => w._1 != w._2) == p.edits) &&
        c.docs.size == c.docs.map(_.docId).distinct.size &&
        typos.nonEmpty && typos.forall { case (a, b) => ed1(name(a), name(b)) } &&
        Gen.requests(2, 10, 4).grouped(4).forall(_.count(_ == 'A') == 1)
    }

    // ---- output checks reject corrupted results ----
    val gen = Gen.events(2, 20, 10, 200)
    val keys = gen.flatMap(_.rows).map(_.key)
    test("landing check passes the generated rows in any order") {
      Checks.landing(keys.reverse, keys).isEmpty
    }
    test("landing check fails on a dropped row") {
      Checks.landing(keys.tail, keys).nonEmpty
    }
    test("landing check fails on a replayed batch") {
      Checks.landing(keys ++ gen(3).rows.map(_.key), keys).nonEmpty
    }
    test("landing check fails on a changed value with the same count") {
      Checks.landing(keys.updated(5, keys(5) + "x"), keys).nonEmpty
    }
    val wm = (0 until 4).map(i => s"step-$i" -> (1000L * i)).toMap
    val recs = wm.toSeq.map { case (k, v) => k -> Option(v) }
    test("run-record check: passes, fails on a missing step or a wrong watermark") {
      Checks.runRecords("c", recs, wm).isEmpty &&
        Checks.runRecords("c", recs.tail, wm).nonEmpty &&
        Checks.runRecords("c", recs.updated(1, recs(1)._1 -> Some(7L)), wm).nonEmpty &&
        Checks.runRecords("c", recs :+ recs.head, wm).nonEmpty
    }
    test("file and stream checks fail on a flipped byte or a dropped event") {
      val objs = Gen.objects(1, 0, 3).map { case (n, b) => n -> b.toSeq }
      val flipped = objs.updated(0, objs(0)._1 -> objs(0)._2.updated(0, (objs(0)._2(0) ^ 1).toByte))
      val evs = Gen.streamObjects(1, 0, 2).flatMap { case (n, _, es) => es.map(n -> _) }
      Checks.objects(objs, objs.toMap).isEmpty && Checks.objects(flipped, objs.toMap).nonEmpty &&
        Checks.events(evs.reverse, evs).isEmpty && Checks.events(evs.tail, evs).nonEmpty
    }
    val good = Checks.Curated(inRows = 10, afterExact = 8, pairs = Seq((1L, 2L)),
      comps = Seq((1L, 1L), (2L, 1L)), outRows = 7, entities = Map(5L -> 5L, 6L -> 5L))
    val jac = (a: Long, b: Long) => if ((a, b) == (1L, 2L)) 0.8 else 0.1
    test("curation check passes a consistent result") {
      Checks.curation(good, 2, jac, 0.6, Seq((5L, 6L))).isEmpty
    }
    test("curation check fails on each corruption") {
      Checks.curation(good, 1, jac, 0.6, Seq((5L, 6L))).nonEmpty &&                       // exact count
        Checks.curation(good.copy(pairs = Seq((1L, 3L))), 2, jac, 0.6, Seq((5L, 6L))).nonEmpty && // below threshold
        Checks.curation(good.copy(entities = Map(5L -> 5L, 6L -> 6L)), 2, jac, 0.6,
          Seq((5L, 6L))).nonEmpty &&                                                          // unlinked typo
        Checks.curation(good.copy(outRows = 8), 2, jac, 0.6, Seq((5L, 6L))).nonEmpty           // dropped-row count
    }
    test("top-k checks fail on a wrong top-k; recall counts overlap") {
      val a = Seq("[0,1,7]", "[0,2,9]")
      Checks.sameRows("x", a.reverse, a).isEmpty &&
        Checks.sameRows("x", Seq("[0,1,7]", "[0,2,8]"), a).nonEmpty &&
        Checks.recall(Map(1L -> Set(1L, 2L)), Map(1L -> Set(2L, 3L)), 2) == 0.5
    }
    test("fingerprint is order-independent and multiset-sensitive") {
      Fingerprint.of(Seq("a", "b", "b")) == Fingerprint.of(Seq("b", "a", "b")) &&
        Fingerprint.of(Seq("a", "b")) != Fingerprint.of(Seq("a", "b", "b"))
    }
    test("codegen fallback messages are recognized") {
      CodegenFallbacks.isFallback("Whole-stage codegen disabled for plan (id=3):") &&
        CodegenFallbacks.isFallback("Expr codegen error and falling back to interpreter mode") &&
        !CodegenFallbacks.isFallback("Broadcasting large task binary")
    }
    test("JSON strings are escaped") {
      Json.str("a\"b\\c\n") == "\"a\\\"b\\\\c\\n\"" && Json.num(Double.NaN) == "null"
    }

    println(s"selftest: $passed passed, $failed failed")
    if (failed > 0) sys.exit(1)
  }
}
