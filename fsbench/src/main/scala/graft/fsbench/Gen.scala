package graft.fsbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DoubleType, StructField, StructType, TimestampType}

/** The seeded, closed-form data generator. Every stored value, every
  * gap and every expected answer is a pure function of
  * (seed, feature, index), so output checks never consult the program
  * under test and the same seed always yields the same inputs.
  *
  * Values are multiples of 1/1024 below 1024: any sum of a few million
  * of them is exact in a double, so checksums compare with `==`
  * whatever order the program adds them in.
  */
object Gen {
  /** SplitMix64 finaliser. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def hash(seed: Long, a: Long, b: Long, c: Long = 0L): Long =
    mix(mix(mix(seed ^ 0x5DEECE66DL) + a) + b * 0x632BE59BD9B4E019L + c)

  def value(seed: Long, feature: Int, index: Long, version: Int = 0): Double =
    (hash(seed, feature.toLong, index, version.toLong) >>> 44).toDouble / 1024.0

  /** 2024-01-01T00:00:00Z: every series starts here (plus its phase). */
  val T0Ms = 1704067200000L

  def ts(ms: Long): Timestamp = new Timestamp(ms)

  val Schema: StructType = StructType(Seq(
    StructField("time", TimestampType), StructField("value", DoubleType)))

  /** A regular series with seeded gaps: point i sits at
    * `T0 + phase + i * cadence` unless its hash drops it (one in
    * `gapEvery`); the final point is always present.
    */
  final case class Series(
      seed: Long, feature: Int, n: Int, cadenceMs: Long, phaseMs: Long, gapEvery: Int = 8) {
    def timeMs(i: Int): Long = T0Ms + phaseMs + i * cadenceMs
    def present(i: Int): Boolean =
      i == n - 1 || gapEvery <= 0 ||
        java.lang.Long.remainderUnsigned(hash(seed, feature + 7919L, i.toLong, 1L), gapEvery) != 0
    def value(i: Int): Double = Gen.value(seed, feature, i)
    def endMs: Long = timeMs(n - 1)

    /** Index of the last present point at or before `tMs`, or -1. */
    def lastAtOrBefore(tMs: Long): Int = {
      if (tMs < timeMs(0)) return -1
      var i = math.min(((tMs - T0Ms - phaseMs) / cadenceMs).toInt, n - 1)
      while (i >= 0 && !present(i)) i -= 1
      i
    }

    /** Present indices whose time lies in [fromMs, toMs]. */
    def indicesIn(fromMs: Long, toMs: Long): Range = {
      val lo = math.max(0L, math.ceil((fromMs - T0Ms - phaseMs).toDouble / cadenceMs).toLong)
      val hi = math.min(n - 1L, math.floorDiv(toMs - T0Ms - phaseMs, cadenceMs))
      lo.toInt to hi.toInt
    }

    def presentCount: Int = (0 until n).count(present)

    /** The series as a (time, value) frame, generated on the executors
      * from the same closed form the checks use.
      */
    def frame(spark: SparkSession, partitions: Int): DataFrame = {
      val s = this
      val rows = spark.sparkContext.range(0L, n.toLong, 1L, partitions)
        .filter(i => s.present(i.toInt))
        .map(i => org.apache.spark.sql.Row(ts(s.timeMs(i.toInt)), s.value(i.toInt)))
      spark.createDataFrame(rows, Schema)
    }
  }

  /** Zipf(s) sampler over ranks 0 until n. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = (1 to n).map(k => 1.0 / math.pow(k.toDouble, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def sample(r: java.util.SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }
}
