package etlbench

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import Stats.{Interval, Span}

/** The benchmark's own arithmetic, and its generator's determinism. */
class BenchMathSpec extends AnyFunSuite {

  test("tail: the highest percentile with at least ten samples beyond it") {
    val xs = (1 to 32).map(_.toDouble).reverse
    // rank 21 (0-based) has ranks 22..31 beyond it: exactly ten
    assert(Stats.tail(xs) == Some((68, 22.0)))
    assert(Stats.tail((1 to 11).map(_.toDouble)) == Some((9, 1.0)))
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    assert(Stats.tail((1 to 100).map(_.toDouble)) == Some((90, 90.0)))
    assert(Stats.tail((1 to 20).map(_.toDouble), beyond = 5) == Some((75, 15.0)))
  }

  test("median of odd and even samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("union length merges overlaps and clips to the window") {
    val w = Interval(0, 100)
    assert(Stats.unionLength(Seq(Interval(10, 20), Interval(15, 30), Interval(50, 60)), w) == 30)
    assert(Stats.unionLength(Seq(Interval(-10, 5), Interval(95, 120)), w) == 10)
    assert(Stats.unionLength(Nil, w) == 0)
  }

  test("self time subtracts child spans, crediting overlapping stages once") {
    val spans = Seq(
      Span(0, -1, 0, "op", "op", 0, 100),
      Span(1, 0, 0, "construct", "c", 0, 20),
      Span(2, 1, 0, "stage", "gate", 5, 15),
      Span(3, 0, 0, "plan", "p", 20, 30),
      Span(4, 0, 0, "exec", "e", 30, 95),
      Span(5, 4, 0, "stage", "s1", 35, 70),
      Span(6, 4, 0, "stage", "s2", 60, 90))
    val self = Stats.selfTimes(spans)
    assert(self("op") == 5)          // 100 - (20 + 10 + 65)
    assert(self("construct") == 10)  // 20 - 10
    assert(self("plan") == 10)
    assert(self("exec") == 10)       // 65 - |[35, 90)|
    assert(self("stage") == 65)      // 10 under construct + 55 under exec
    assert(self.values.sum == 100)   // the layers add up to the root's wall time
  }

  test("refills: a block written twice within one operation") {
    val r = Stats.refills(Seq(0 -> "rdd_5_0", 0 -> "rdd_5_1", 0 -> "rdd_5_0", 1 -> "rdd_5_0", 1 -> "rdd_7_0"))
    assert(r == Stats.Refills(5, 1))
    assert(r.ratio == 0.2)
    assert(Stats.refills(Nil).ratio == 0.0)
  }

  test("the siretisation generator is deterministic in its seed") {
    def gen(seed: Long): (Seq[Array[Byte]], IcpeGen.Expected) = {
      val dir: Path = Files.createTempDirectory("icpegen")
      val (files, expected) = IcpeGen.generate(dir, seed, 2000)
      (files.all.map(Files.readAllBytes), expected)
    }
    val (a, ea) = gen(7)
    val (b, eb) = gen(7)
    val (c, _) = gen(8)
    assert(a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x, y) })
    assert(ea == eb)
    assert(!a.zip(c).forall { case (x, y) => java.util.Arrays.equals(x, y) })
    // the planted cases are present: some relevant sites lack a siret
    // before enrichment, and enrichment recovers some of them
    assert(ea.control.nbNoSiret > ea.enriched.nbNoSiret)
    assert(ea.exportRows > 2000) // duplicate company names fan out
  }
}
