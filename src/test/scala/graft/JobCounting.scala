package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

/** Counts the Spark jobs a block of code starts, for specs that pin an
  * operation's job cost. */
trait JobCounting { self: SparkSpec =>

  /** One job's totals, in job-id (= submission) order. */
  final case class JobStat(id: Int, var records: Long = 0L, var shuffleBytes: Long = 0L)

  /** Runs `body` under a private job group and returns every Spark job
    * it started. A marker job in a second group drains the listener
    * bus: events reach a listener in order, so once the marker's end
    * arrives every earlier task and job event has too. */
  def jobsOf[T](body: => T): (T, Seq[JobStat]) = {
    val sc = spark.sparkContext
    val group = s"job-count-${java.util.UUID.randomUUID()}"
    val jobs = new ConcurrentHashMap[Int, JobStat]()
    val stageJob = new ConcurrentHashMap[Int, JobStat]()
    val drainJob = new java.util.concurrent.atomic.AtomicInteger(-1)
    val drained = new CountDownLatch(1)
    def groupOf(e: SparkListenerJobStart) =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (groupOf(e).contains(group)) {
          val j = JobStat(e.jobId)
          jobs.put(e.jobId, j)
          e.stageIds.foreach(stageJob.put(_, j))
        } else if (groupOf(e).contains(s"$group-drain")) drainJob.set(e.jobId)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(stageJob.get(e.stageId)).foreach { j =>
          j.synchronized {
            Option(e.taskMetrics).foreach { m =>
              j.records += m.inputMetrics.recordsRead
              j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            }
          }
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == drainJob.get) drained.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job-count")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-drain", "drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      import scala.jdk.CollectionConverters._
      (out, jobs.values.asScala.toSeq.sortBy(_.id))
    } finally sc.removeSparkListener(listener)
  }
}
