package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Records the plans the optimizer sees while a block of code runs, for
  * specs that pin that an operation plans nothing. */
trait PlanCounting { self: SparkSpec =>

  /** Runs `body` and returns every logical plan the session optimized on
    * this thread meanwhile. An extra optimizer rule that changes nothing
    * records them: its batch runs once per optimized plan. */
  def plansOf[T](body: => T): (T, Seq[LogicalPlan]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    val thread = Thread.currentThread()
    val recorder = new Rule[LogicalPlan] {
      override def apply(plan: LogicalPlan): LogicalPlan = {
        if (Thread.currentThread() eq thread) seen.add(plan)
        plan
      }
    }
    val experimental = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    val prev = experimental.extraOptimizations
    experimental.extraOptimizations = prev :+ recorder
    try {
      val out = body
      (out, seen.asScala.toSeq)
    } finally experimental.extraOptimizations = prev
  }
}
