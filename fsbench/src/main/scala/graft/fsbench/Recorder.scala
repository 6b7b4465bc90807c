package graft.fsbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Nearest-rank percentiles over latency samples. */
object Stats {
  /** A percentile pick: the fraction asked for, the sample it landed on
    * (1-based rank), how many samples lie beyond it, and the value.
    */
  final case class Pick(q: Double, rank: Int, n: Int, value: Double) {
    def beyond: Int = n - rank
  }

  /** Nearest-rank percentile: the ceil(q * n)-th smallest sample. */
  def percentile(samples: Seq[Double], q: Double): Option[Pick] = {
    require(q > 0 && q <= 1, s"percentile fraction must be in (0, 1], got $q")
    if (samples.isEmpty) None
    else {
      val sorted = samples.sorted
      val rank = math.max(1, math.ceil(q * sorted.size - 1e-9).toInt)
      Some(Pick(q, rank, sorted.size, sorted(rank - 1)))
    }
  }

  /** The highest percentile up to `target` that still has at least
    * `minBeyond` samples above it; None when that percentile would not
    * lie above the median.
    */
  def tail(samples: Seq[Double], target: Double = 0.9, minBeyond: Int = 10): Option[Pick] = {
    val n = samples.size
    val rank = math.min(math.ceil(target * n - 1e-9).toInt, n - minBeyond)
    if (rank < 1 || rank * 2 <= n) None
    else percentile(samples, rank.toDouble / n).map(_.copy(q = rank.toDouble / n))
  }
}

/** Closed-loop op accounting: times only the call into the program,
  * checks its result against the generator afterwards, and keeps a
  * failed op (thrown or wrong) out of the latency samples.
  */
final class Recorder {
  import Recorder.Failure

  private val samples = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  val failures: ArrayBuffer[Failure] = ArrayBuffer.empty
  private var count = 0

  def attempted: Int = count
  def failed: Int = failures.size
  def latencies(op: String): Seq[Double] = samples.get(op).map(_.toSeq).getOrElse(Nil)
  def ops: Seq[String] = samples.keys.toSeq

  /** Runs one op: `call` is timed, `check` is not and returns a reason
    * when the result is wrong. Returns true when the op succeeded.
    */
  def run[A](op: String)(call: => A)(check: A => Option[String]): Boolean = {
    val index = count
    count += 1
    samples.getOrElseUpdate(op, ArrayBuffer.empty)
    val t0 = System.nanoTime()
    val result = try Right(call) catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    val verdict = result match {
      case Left(e) => Some(s"threw ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
      case Right(a) =>
        try check(a) catch { case NonFatal(e) => Some(s"check threw ${e.getClass.getName}: ${e.getMessage}") }
    }
    verdict match {
      case None => samples(op) += ms; true
      case Some(reason) => failures += Failure(op, index, reason); false
    }
  }
}

object Recorder {
  final case class Failure(op: String, index: Int, reason: String)
}
