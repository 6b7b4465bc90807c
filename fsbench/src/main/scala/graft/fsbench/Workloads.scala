package graft.fsbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DoubleType, StructField, StructType, TimestampType}

import graft.api.FeatureStore
import graft.transform.TransformRegistry

/** One closed-loop op runner shared by the warm-up and the timed phase:
  * the recorder accounts for every op, the tracer (traced runs only)
  * wraps it in its own span.
  */
final class Harness(val rec: Recorder, tracer: Option[Tracer]) {
  def op[A](name: String)(call: => A)(rows: A => Long)(check: A => Option[String]): Boolean =
    rec.run(name)(tracer match {
      case Some(t) => t.around(name, rec.attempted - 1)(call)(rows)
      case None => call
    })(check)
}

/** A workload: populates a fresh store, then runs closed-loop steps
  * against it. Inputs come only from [[Gen]] and the seed.
  */
trait Workload {
  def ops: Seq[String]
  def populate(): Unit
  /** The next step of the closed loop; returns true at the end of a
    * round, the smallest run of steps that holds the workload's whole op
    * mix. The warm-up is `warmupRounds` rounds; the timed phase stops
    * only at a round's end, so every run measures the same mix.
    */
  def step(h: Harness): Boolean
  /** End-of-run checks on the store's final state; reasons on failure. */
  def finalCheck(): Seq[String] = Nil
  /** Rounds run before timing: enough ops for the JIT to settle. */
  def warmupRounds: Int = 1
  /** Live rows the generator says the store holds. */
  def liveRows: Long
  def namespaceDir: String
}

object Workloads {
  val Names: Seq[String] = Seq("serve", "train", "ingest")

  def make(name: String, fs: FeatureStore, seed: Long, dir: String): Workload = name match {
    case "serve" => new Serve(fs, seed, dir)
    case "train" => new Train(fs, seed, dir)
    case "ingest" => new Ingest(fs, seed, dir)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  private val DayMs = 86400000L
  private val HourMs = 3600000L
  private val MinuteMs = 60000L

  private def name(ns: String, f: Int) = f"$ns/f$f%02d"

  private def asDouble(v: Any): Option[Double] = v match {
    case null => None
    case d: Double => Some(d)
    case other => throw new IllegalStateException(s"non-double value $other")
  }

  private def sameValue(got: Any, want: Option[Double]): Boolean = asDouble(got) == want

  /** Row count and checksum of a wide frame against the expected cells. */
  private def checkWide(
      rows: Array[Row], cols: Seq[String], expect: Long => Seq[Option[Double]],
      expectedTimes: Seq[Long]): Option[String] = {
    if (rows.length != expectedTimes.size)
      return Some(s"row count ${rows.length}, expected ${expectedTimes.size}")
    val times = rows.map(_.getTimestamp(0).getTime).sorted
    if (!times.sameElements(expectedTimes.sorted)) return Some("row times differ from the generator's")
    var sumGot = 0.0
    var sumWant = 0.0
    var nullsGot = 0
    var nullsWant = 0
    rows.foreach { r =>
      val want = expect(r.getTimestamp(0).getTime)
      cols.indices.foreach { j =>
        asDouble(r.get(j + 1)) match { case Some(d) => sumGot += d; case None => nullsGot += 1 }
        want(j) match { case Some(d) => sumWant += d; case None => nullsWant += 1 }
      }
    }
    if (sumGot != sumWant || nullsGot != nullsWant)
      Some(s"checksum $sumGot with $nullsGot nulls, expected $sumWant with $nullsWant nulls")
    else None
  }

  /** Inference-time reads on the default backend: `last` and short
    * windows over many date partitions, picked Zipf(1.1).
    */
  final class Serve(fs: FeatureStore, seed: Long, dir: String) extends Workload {
    val Features = 6
    val Days = 10
    val Cadence = 5 * MinuteMs
    val ops = Seq("last", "window")
    private val series = (0 until Features).map(f =>
      Gen.Series(seed, f, (Days * DayMs / Cadence).toInt, Cadence, phaseMs = f * 17000L))
    private val endMs = series.map(_.endMs).max
    private val rnd = new SplittableRandom(Gen.hash(seed, 1, 0))
    private val zipf = new Gen.Zipf(Features, 1.1)
    private val schedule = mutable.Queue.empty[String]
    def namespaceDir: String = s"$dir/serve"
    def liveRows: Long = series.map(_.presentCount.toLong).sum

    def populate(): Unit = {
      fs.createNamespace("serve", namespaceDir)
      fs.createFeatures((0 until Features).map(name("serve", _)))
      series.foreach(s => fs.saveDataFrame(s.frame(fs.spark, 4), name = Some(name("serve", s.feature))))
    }

    /** 7 lasts and 3 windows in every block of 10, in seeded order. */
    private def nextKind(): String = {
      if (schedule.isEmpty) {
        val block = mutable.ArrayBuffer.fill(7)("last") ++ mutable.ArrayBuffer.fill(3)("window")
        for (i <- block.indices.reverse) {
          val j = rnd.nextInt(i + 1)
          val x = block(i); block(i) = block(j); block(j) = x
        }
        schedule ++= block
      }
      schedule.dequeue()
    }

    private def last(h: Harness): Unit = {
      val s = series(zipf.sample(rnd))
      val want = s.value(s.n - 1)
      h.op("last")(fs.last(name("serve", s.feature)))(_ => 1L) {
        case Some(v) if sameValue(v, Some(want)) => None
        case got => Some(s"last(${s.feature}) = $got, expected $want")
      }
    }

    private def window(h: Harness): Unit = {
      val picked = mutable.LinkedHashSet.empty[Int]
      while (picked.size < 4) picked += zipf.sample(rnd)
      val ss = picked.toSeq.map(series)
      // 80% of windows end in the most recent 7 days
      val span = if (rnd.nextDouble() < 0.8) 7 * DayMs else endMs - Gen.T0Ms - DayMs
      val to = endMs - (rnd.nextDouble() * span).toLong / 1000 * 1000
      val from = to - DayMs
      val names = ss.map(s => name("serve", s.feature))
      val times = ss.flatMap(s => s.indicesIn(from, to).filter(s.present).map(s.timeMs)).distinct
      // clipped scan, then an outer align with forward fill inside the window
      val expect = (t: Long) => ss.map { s =>
        val i = s.lastAtOrBefore(t)
        if (i >= 0 && s.timeMs(i) >= from) Some(s.value(i)) else None
      }
      h.op("window")(fs.loadDataFrame(names, Some(Gen.ts(from)), Some(Gen.ts(to))).collect())(
        _.length.toLong)(rows => checkWide(rows, names, expect, times))
    }

    def step(h: Harness): Boolean = {
      if (nextKind() == "last") last(h) else window(h)
      schedule.isEmpty
    }
  }

  /** Batch training-set assembly on the default backend: resample,
    * point-in-time as-of and a transform DAG, round-robin.
    */
  final class Train(fs: FeatureStore, seed: Long, dir: String) extends Workload {
    val Features = 3
    val Days = 14
    val Cadence = MinuteMs
    val Labels = 5000
    val ops = Seq("resample", "asof", "dag")
    private val series = (0 until Features).map(f =>
      Gen.Series(seed, f, (Days * DayMs / Cadence).toInt, Cadence, phaseMs = f * 3000L))
    private val fromMs = Gen.T0Ms
    private val toMs = Gen.T0Ms + Days * DayMs
    private val names = series.map(s => name("train", s.feature))
    private val labelTimes: Array[Long] = {
      val r = new SplittableRandom(Gen.hash(seed, 2, 0))
      Array.fill(Labels)(fromMs + r.nextLong(toMs - fromMs))
    }
    private lazy val labels: DataFrame = fs.spark.createDataFrame(
      java.util.Arrays.asList(labelTimes.map(t => Row(Gen.ts(t))): _*),
      StructType(Seq(StructField("time", TimestampType))))
    private var turn = 0
    def namespaceDir: String = s"$dir/train"
    def liveRows: Long = series.map(_.presentCount.toLong).sum

    def populate(): Unit = {
      fs.createNamespace("train", namespaceDir)
      fs.createFeatures((0 until Features).map(name("train", _)))
      series.foreach(s => fs.saveDataFrame(s.frame(fs.spark, 4), name = Some(name("train", s.feature))))
      TransformRegistry.register("fsbench.blend",
        df => df.select(col("time"), (col("f0") * 0.5 - col("f1")).as("value")))
      fs.transformSql("train/t_sum", Seq(names(0), names(1)), "f0 + f1")
      fs.transformFn("train/t_top", Seq("train/t_sum", names(2)), "fsbench.blend")
    }

    private def ffill(s: Gen.Series, t: Long): Option[Double] = {
      val i = s.lastAtOrBefore(t)
      if (i >= 0) Some(s.value(i)) else None
    }

    private def resample(h: Harness): Unit = {
      val grid = (fromMs to toMs by HourMs).toSeq
      h.op("resample")(fs.loadDataFrame(names, Some(Gen.ts(fromMs)), Some(Gen.ts(toMs)),
        freq = Some("1h")).collect())(_.length.toLong)(
        rows => checkWide(rows, names, t => series.map(ffill(_, t)), grid))
    }

    private def asof(h: Harness): Unit = {
      h.op("asof")(fs.trainingFrame(labels, names).collect())(_.length.toLong) { rows =>
        val got = rows.map(r => (r.getTimestamp(0).getTime, names.indices.map(j => asDouble(r.get(j + 1)))))
        if (rows.length != Labels) Some(s"${rows.length} label rows, expected $Labels")
        else got.find { case (t, vs) => vs != series.map(ffill(_, t)) }
          .map { case (t, vs) => s"as-of row at $t = $vs, expected ${series.map(ffill(_, t))}" }
      }
    }

    private def dag(h: Harness): Unit = {
      val Seq(a, b, c) = series
      val times = series.flatMap(s => (0 until s.n).filter(s.present).map(s.timeMs)).distinct
      val expect = (t: Long) => Seq(for {
        x <- ffill(a, t); y <- ffill(b, t); z <- ffill(c, t)
      } yield (x + y) * 0.5 - z)
      h.op("dag")(fs.loadDataFrame(Seq("train/t_top")).collect())(_.length.toLong)(
        rows => checkWide(rows, Seq("train/t_top"), expect, times))
    }

    def step(h: Harness): Boolean = {
      turn match { case 0 => resample(h); case 1 => asof(h); case _ => dag(h) }
      turn = (turn + 1) % 3
      turn == 0
    }
  }

  /** Appends beside reads on the txlog backend: hourly batches with
    * `created_time`, a quarter of them re-writing the previous hour,
    * each followed by a read-your-write `last`, with periodic compaction.
    */
  final class Ingest(fs: FeatureStore, seed: Long, dir: String) extends Workload {
    val Features = 4
    val Days = 7
    val Cadence = MinuteMs
    /** Every CompactEvery-th batch compacts the feature it wrote; with
      * Features coprime to it, each feature is compacted every
      * CompactEvery-th save of its own, staggered across features.
      */
    val CompactEvery = 5
    val ops = Seq("save", "last", "compact")
    override def warmupRounds: Int = 2
    private val series = (0 until Features).map(f =>
      Gen.Series(seed, f, (Days * DayMs / Cadence).toInt, Cadence, phaseMs = f * 5000L))
    private val createdMs = Gen.T0Ms + 400 * DayMs
    private val rnd = new SplittableRandom(Gen.hash(seed, 3, 0))
    // per feature: hour index -> version written last
    private val written = Array.fill(Features)(mutable.LinkedHashMap.empty[Int, Int])
    private var batches = 0
    private val firstHour = (Days * DayMs / HourMs).toInt
    private val batchSchema = StructType(Seq(StructField("time", TimestampType),
      StructField("created_time", TimestampType), StructField("value", DoubleType)))
    def namespaceDir: String = s"$dir/ingest"
    private def live(f: Int): Long = series(f).presentCount.toLong + written(f).size * 60L
    def liveRows: Long = (0 until Features).map(live).sum

    def populate(): Unit = {
      fs.createNamespace("ingest", namespaceDir, backend = "txlog")
      fs.createFeatures((0 until Features).map(name("ingest", _)))
      series.foreach { s =>
        fs.saveDataFrame(s.frame(fs.spark, 4).withColumn("created_time", lit(Gen.ts(createdMs))),
          name = Some(name("ingest", s.feature)))
      }
    }

    private def batchValue(f: Int, hour: Int, minute: Int, version: Int): Double =
      Gen.value(seed ^ 0x1F3DL, f, hour * 60L + minute, version)

    /** Saves the next batch of feature `f`, then reads it back. */
    private def saveAndRead(h: Harness, f: Int): Unit = {
      val w = written(f)
      val rewrite = w.nonEmpty && rnd.nextDouble() < 0.25
      val hour = if (rewrite) w.keys.max else firstHour + w.size
      val version = w.getOrElse(hour, -1) + 1
      batches += 1
      val created = Gen.ts(createdMs + batches * 1000L)
      val s = series(f)
      val rows = (0 until 60).map(m =>
        Row(Gen.ts(Gen.T0Ms + s.phaseMs + hour * HourMs + m * MinuteMs), created,
          batchValue(f, hour, m, version)))
      val df = fs.spark.createDataFrame(java.util.Arrays.asList(rows: _*), batchSchema)
      val full = name("ingest", f)
      if (h.op("save")(fs.saveDataFrame(df, name = Some(full)))(_ => 60L)(_ => None))
        w(hour) = version
      val want = batchValue(f, hour, 59, version)
      h.op("last")(fs.last(full))(_ => 1L) {
        case Some(v) if sameValue(v, Some(want)) => None
        case got => Some(s"read-your-write last($full) = $got, expected $want")
      }
      if (batches % CompactEvery == 0)
        h.op("compact")(fs.compactFeature(full))(_ => live(f))(_ => None)
    }

    def step(h: Harness): Boolean = {
      saveAndRead(h, batches % Features)
      batches % CompactEvery == 0
    }

    override def finalCheck(): Seq[String] = series.flatMap { s =>
      val full = name("ingest", s.feature)
      val want = live(s.feature)
      val got = fs.loadDataFrame(Seq(full)).count()
      if (got == want) None else Some(s"$full holds $got live rows, expected $want")
    }
  }
}
