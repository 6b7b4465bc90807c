package graft.fsbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.catalog.{CatalogApi, Feature, Namespace, TransformSpec}

/** The local filesystem with call counters, registered as `fs.file.impl`
  * in traced runs only. Byte counts come from Hadoop's own per-scheme
  * statistics; this class adds what those lack for the local scheme:
  * listings and namespace-changing calls.
  */
class CountingLocalFs extends LocalFileSystem {
  import CountingLocalFs._
  override def listStatus(f: Path) = { listCalls.incrementAndGet(); super.listStatus(f) }
  override def listStatusIterator(f: Path) = { listCalls.incrementAndGet(); super.listStatusIterator(f) }
  override def listLocatedStatus(f: Path) = { listCalls.incrementAndGet(); super.listLocatedStatus(f) }
  override def create(f: Path, p: FsPermission, overwrite: Boolean, buf: Int, rep: Short,
      block: Long, prog: Progressable): FSDataOutputStream = {
    writeCalls.incrementAndGet(); super.create(f, p, overwrite, buf, rep, block, prog)
  }
  override def createNonRecursive(f: Path, p: FsPermission, overwrite: Boolean, buf: Int,
      rep: Short, block: Long, prog: Progressable): FSDataOutputStream = {
    writeCalls.incrementAndGet(); super.createNonRecursive(f, p, overwrite, buf, rep, block, prog)
  }
  override def rename(src: Path, dst: Path): Boolean = { writeCalls.incrementAndGet(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { writeCalls.incrementAndGet(); super.delete(f, recursive) }
  override def mkdirs(f: Path): Boolean = { writeCalls.incrementAndGet(); super.mkdirs(f) }
  override def mkdirs(f: Path, p: FsPermission): Boolean = { writeCalls.incrementAndGet(); super.mkdirs(f, p) }
}

object CountingLocalFs {
  val listCalls = new AtomicLong()
  val writeCalls = new AtomicLong()

  final case class Counters(listCalls: Long, bytesRead: Long, writeCalls: Long, bytesWritten: Long) {
    def -(o: Counters): Counters = Counters(listCalls - o.listCalls, bytesRead - o.bytesRead,
      writeCalls - o.writeCalls, bytesWritten - o.bytesWritten)
  }

  def snapshot(): Counters = {
    val local = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    Counters(listCalls.get, local.map(_.getBytesRead).sum, writeCalls.get, local.map(_.getBytesWritten).sum)
  }
}

/** Spans and counters of the traced run, recorded from outside the
  * program around the calls into each layer: the catalog through a
  * timing [[CatalogApi]] decorator, Spark jobs through a listener keyed
  * by one job group per op, Catalyst phases through a
  * [[QueryExecutionListener]], and the filesystem through
  * [[CountingLocalFs]]. Everything stays in memory until [[ledger]].
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  /** Wall-clock milliseconds with nanosecond steps, comparable with the
    * millisecond timestamps Spark stamps on its events.
    */
  def nowMs: Double = baseMs + (System.nanoTime() - baseNano) / 1e6

  val ops: ArrayBuffer[OpTrace] = ArrayBuffer.empty
  @volatile private var current: OpTrace = null

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val phases = new java.util.concurrent.ConcurrentLinkedQueue[Span]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      jobs.put(e.jobId, JobRec(e.jobId, group, e.time.toDouble))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
        j.synchronized {
          j.tasks += 1
          Option(e.taskMetrics).foreach { m =>
            j.recordsRead += m.inputMetrics.recordsRead
            j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          }
        }
      }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (name, p) =>
        phases.add(Span(name, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  spark.sparkContext.addSparkListener(jobListener)
  spark.listenerManager.register(planListener)

  /** Runs one op under its own job group, recording its interval and
    * the filesystem and GC counters it moved.
    */
  def around[A](op: String, index: Int)(call: => A)(rows: A => Long): A = {
    val t = new OpTrace(op, index, s"fsbench-$index-$op")
    val sc = spark.sparkContext
    sc.setJobGroup(t.group, op, interruptOnCancel = false)
    val fs0 = CountingLocalFs.snapshot()
    val gc0 = gcMs()
    t.startMs = nowMs
    current = t
    try {
      val a = call
      t.rowsOut = rows(a)
      a
    } finally {
      t.endMs = nowMs
      current = null
      t.gcMs = gcMs() - gc0
      t.fs = CountingLocalFs.snapshot() - fs0
      sc.clearJobGroup()
      ops += t
    }
  }

  /** Times one catalog call into the op in flight, if any. */
  def catalogCall[A](name: String)(body: => A): A = {
    val t = current
    if (t == null) body
    else {
      val s = nowMs
      try body finally t.catalog += Span(name, s, nowMs)
    }
  }

  def detach(): Unit = {
    org.apache.spark.fsbenchbridge.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
  }

  /** Joins the listener records to the ops that caused them. Jobs are
    * matched by job group; a job submitted without one (from a pool
    * thread that dropped the thread-local group) and every Catalyst
    * phase are matched by the op interval they started in.
    */
  def ledger(): Seq[OpLedger] = {
    org.apache.spark.fsbenchbridge.Bus.drain(spark.sparkContext)
    val allJobs = jobs.values.asScala.toSeq.sortBy(_.id)
    val allPhases = phases.asScala.toSeq
    ops.toSeq.map { t =>
      def inside(ms: Double) = ms >= math.floor(t.startMs) && ms <= math.ceil(t.endMs)
      val js = allJobs.filter(j => j.group.contains(t.group) || (j.group.isEmpty && inside(j.startMs)))
      val ps = allPhases.filter(p => inside(p.startMs))
      val clip = (s: Double, e: Double) => (math.max(s, t.startMs), math.min(e, t.endMs))
      val jobIv = js.map(j => clip(j.startMs, if (j.endMs > 0) j.endMs else t.endMs))
      val catIv = t.catalog.map(s => clip(s.startMs, s.endMs)).toSeq
      val planIv = ps.map(p => clip(p.startMs, p.endMs))
      OpLedger(t, js, ps,
        apiSelfMs = t.wallMs - unionMs(jobIv ++ catIv ++ planIv),
        driverOnlyMs = t.wallMs - unionMs(jobIv))
    }
  }
}

object Tracer {
  final case class Span(name: String, startMs: Double, endMs: Double) {
    def ms: Double = endMs - startMs
  }

  final case class JobRec(id: Int, group: Option[String], startMs: Double) {
    @volatile var endMs: Double = -1
    var tasks = 0L
    var recordsRead = 0L
    var shuffleBytes = 0L
    def ms: Double = if (endMs > 0) endMs - startMs else 0.0
  }

  final class OpTrace(val op: String, val index: Int, val group: String) {
    var startMs = 0.0
    var endMs = 0.0
    var rowsOut = 0L
    var gcMs = 0L
    var fs = CountingLocalFs.Counters(0, 0, 0, 0)
    val catalog: ArrayBuffer[Span] = ArrayBuffer.empty
    def wallMs: Double = endMs - startMs
  }

  final case class OpLedger(
      t: OpTrace, jobs: Seq[JobRec], phases: Seq[Span], apiSelfMs: Double, driverOnlyMs: Double) {
    /** The per-op quantities, named `<layer>.<quantity>`. */
    def quantities: Seq[(String, Double)] = Seq(
      "api.self_ms" -> apiSelfMs,
      "driver.only_ms" -> driverOnlyMs,
      "catalog.calls" -> t.catalog.size.toDouble,
      "catalog.ms" -> t.catalog.map(_.ms).sum,
      "plan.ms" -> phases.map(_.ms).sum,
      "store.fs_list_calls" -> t.fs.listCalls.toDouble,
      "store.fs_bytes_read" -> t.fs.bytesRead.toDouble,
      "store.fs_write_calls" -> t.fs.writeCalls.toDouble,
      "store.fs_bytes_written" -> t.fs.bytesWritten.toDouble,
      "spark.jobs" -> jobs.size.toDouble,
      "spark.tasks" -> jobs.map(_.tasks).sum.toDouble,
      "spark.job_ms" -> jobs.map(_.ms).sum,
      "spark.shuffle_bytes" -> jobs.map(_.shuffleBytes).sum.toDouble,
      "spark.rows_read_per_row_out" -> jobs.map(_.recordsRead).sum.toDouble / math.max(1L, t.rowsOut),
      "jvm.gc_ms" -> t.gcMs.toDouble)
  }

  val Units: Map[String, String] = Map(
    "api.self_ms" -> "ms", "driver.only_ms" -> "ms", "catalog.calls" -> "count",
    "catalog.ms" -> "ms", "plan.ms" -> "ms", "store.fs_list_calls" -> "count",
    "store.fs_bytes_read" -> "B", "store.fs_write_calls" -> "count",
    "store.fs_bytes_written" -> "B", "spark.jobs" -> "count", "spark.tasks" -> "count",
    "spark.job_ms" -> "ms", "spark.shuffle_bytes" -> "B",
    "spark.rows_read_per_row_out" -> "ratio", "jvm.gc_ms" -> "ms")

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Total length covered by a set of intervals. */
  def unionMs(ivs: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var end = Double.NegativeInfinity
    ivs.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > end) { total += e - s; end = e }
      else if (e > end) { total += e - end; end = e }
    }
    total
  }
}

/** Times every catalog call into the tracer's op in flight. */
final class TimingCatalog(inner: CatalogApi, tracer: Tracer) extends CatalogApi {
  private def t[A](name: String)(body: => A): A = tracer.catalogCall(name)(body)
  def listNamespaces(regex: Option[String]): Seq[Namespace] = t("listNamespaces")(inner.listNamespaces(regex))
  def getNamespace(name: String): Option[Namespace] = t("getNamespace")(inner.getNamespace(name))
  def createNamespace(ns: Namespace): Unit = t("createNamespace")(inner.createNamespace(ns))
  def updateNamespace(name: String, description: Option[String], meta: Map[String, Option[String]],
      storageOptions: Option[Map[String, String]]): Unit =
    t("updateNamespace")(inner.updateNamespace(name, description, meta, storageOptions))
  def deleteNamespace(name: String): Unit = t("deleteNamespace")(inner.deleteNamespace(name))
  def listFeatures(namespace: Option[String], regex: Option[String]): Seq[Feature] =
    t("listFeatures")(inner.listFeatures(namespace, regex))
  def getFeature(namespace: String, name: String): Option[Feature] =
    t("getFeature")(inner.getFeature(namespace, name))
  def createFeature(f: Feature): Unit = t("createFeature")(inner.createFeature(f))
  def updateFeature(namespace: String, name: String, description: Option[String],
      meta: Map[String, Option[String]], transform: Option[TransformSpec],
      valueType: Option[String]): Unit =
    t("updateFeature")(inner.updateFeature(namespace, name, description, meta, transform, valueType))
  def deleteFeature(namespace: String, name: String): Unit =
    t("deleteFeature")(inner.deleteFeature(namespace, name))
  def cloneFeature(srcNs: String, srcName: String, dstNs: String, dstName: String): Feature =
    t("cloneFeature")(inner.cloneFeature(srcNs, srcName, dstNs, dstName))
  private[graft] def pinValueType(namespace: String, name: String, dtJson: String): Unit =
    t("pinValueType")(inner.pinValueType(namespace, name, dtJson))
  override def createFeatures(fs: Seq[Feature]): Unit = t("createFeatures")(inner.createFeatures(fs))
}
