package graft.fsbench

import org.scalatest.funsuite.AnyFunSuite

class RecorderSpec extends AnyFunSuite {
  test("a thrown op and a wrong result count as failed and are never timed") {
    val rec = new Recorder
    assert(rec.run("last")(41 + 1)(v => if (v == 42) None else Some("wrong")))
    assert(!rec.run("last")(throw new IllegalStateException("forced"))((_: Int) => None))
    assert(!rec.run("window")(7)(v => if (v == 8) None else Some(s"got $v, expected 8")))
    assert(rec.attempted == 3 && rec.failed == 2)
    assert(rec.latencies("last").size == 1 && rec.latencies("window").isEmpty)
    assert(rec.failures.map(f => (f.op, f.index)) == Seq(("last", 1), ("window", 2)))
    assert(rec.failures(0).reason.contains("IllegalStateException") &&
      rec.failures(0).reason.contains("forced"))
    assert(rec.failures(1).reason == "got 7, expected 8")
  }

  test("a check that throws counts as a failed op") {
    val rec = new Recorder
    assert(!rec.run("dag")(Seq.empty[Int])(xs => if (xs.head > 0) None else Some("bad")))
    assert(rec.failed == 1 && rec.failures.head.reason.startsWith("check threw"))
  }
}
