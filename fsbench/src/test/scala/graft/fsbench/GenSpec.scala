package graft.fsbench

import java.util.SplittableRandom

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private def points(s: Gen.Series) = (0 until s.n).map(i => (s.present(i), s.timeMs(i), s.value(i)))

  test("the same seed gives the same series; another seed another one") {
    val a = Gen.Series(seed = 7, feature = 3, n = 500, cadenceMs = 60000, phaseMs = 9000)
    assert(points(a) == points(a.copy()))
    assert(points(a) != points(a.copy(seed = 8)))
    assert(points(a) != points(a.copy(feature = 4)))
  }

  test("the same seed gives the same Zipf picks") {
    def picks(seed: Long) = {
      val r = new SplittableRandom(Gen.hash(seed, 1, 0))
      val z = new Gen.Zipf(8, 1.1)
      Seq.fill(200)(z.sample(r))
    }
    assert(picks(1) == picks(1))
    assert(picks(1) != picks(2))
    val counts = picks(3).groupBy(identity).view.mapValues(_.size).toMap
    assert(counts.getOrElse(0, 0) > counts.getOrElse(7, 0), "rank 0 is the most frequent")
  }

  test("values are exact multiples of 1/1024, so sums are order-independent") {
    val s = Gen.Series(seed = 1, feature = 0, n = 10000, cadenceMs = 60000, phaseMs = 0)
    val vs = (0 until s.n).map(s.value)
    assert(vs.forall(v => v >= 0 && v < 1024 && v * 1024 == math.rint(v * 1024)))
    assert(vs.sum == vs.reverse.sum && vs.sum == vs.sorted.sum)
  }

  test("the closed-form lookups agree with a brute-force scan") {
    val s = Gen.Series(seed = 5, feature = 2, n = 300, cadenceMs = 60000, phaseMs = 6000)
    assert(s.present(s.n - 1), "the final point is always present")
    assert((0 until s.n).count(s.present) == s.presentCount)
    assert((0 until s.n).exists(i => !s.present(i)), "the series has gaps")
    for (t <- (s.timeMs(0) - 90000) to (s.endMs + 90000) by 17000L) {
      val brute = (0 until s.n).filter(i => s.present(i) && s.timeMs(i) <= t).lastOption.getOrElse(-1)
      assert(s.lastAtOrBefore(t) == brute, s"at $t")
      val in = (0 until s.n).filter(i => s.timeMs(i) >= t && s.timeMs(i) <= t + 3600000L)
      assert(s.indicesIn(t, t + 3600000L).toSeq == in, s"range from $t")
    }
  }
}
