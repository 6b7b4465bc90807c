package graft.fsbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private val hundred = (1 to 100).map(_.toDouble).reverse

  test("nearest-rank percentile picks the ceil(q * n)-th smallest sample") {
    val p50 = Stats.percentile(hundred, 0.5).get
    assert(p50.rank == 50 && p50.value == 50.0 && p50.n == 100 && p50.beyond == 50)
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 0.5).get.value == 2.0)
    assert(Stats.percentile(Seq(4.0, 1.0, 3.0, 2.0), 0.5).get.value == 2.0)
    assert(Stats.percentile(Seq(5.0), 0.9).get.value == 5.0)
    assert(Stats.percentile(Nil, 0.5).isEmpty)
  }

  test("the tail percentile keeps at least ten samples beyond it and reports its count") {
    val p90 = Stats.tail(hundred).get
    assert(p90.q == 0.9 && p90.rank == 90 && p90.value == 90.0 && p90.beyond == 10 && p90.n == 100)
    // 50 samples: p90 would leave 5 beyond, so the pick drops to rank 40 (p80)
    val p80 = Stats.tail((1 to 50).map(_.toDouble)).get
    assert(p80.rank == 40 && p80.q == 0.8 && p80.value == 40.0 && p80.beyond == 10)
    // 20 samples: ten beyond would put the pick at the median, so none
    assert(Stats.tail((1 to 20).map(_.toDouble)).isEmpty)
    assert(Stats.tail((1 to 21).map(_.toDouble)).get.rank == 11)
  }
}
