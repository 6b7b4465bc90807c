package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.AttributeSet
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, Project, Range, SubqueryAlias, Union}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LogicalRelation}

/** Estimate a DataFrame's SCAN partition count from its analyzed plan,
  * without converting it to an RDD. `df.rdd.getNumPartitions` — the
  * probe r19's `spread`/`compactUnion` guards used — forces a full
  * physical-planning pass whose result is then thrown away; on the very
  * wide-align shapes those guards protect, that doubles the union
  * subtree's planning cost (ADVICE r19). The estimate walks only
  * NARROW nodes (union/project/filter/alias) over recognizable leaves;
  * anything that could introduce an exchange (join, aggregate, window,
  * repartition, ...), and a file scan under a partition-column filter,
  * returns None and the caller falls back to the exact planned-RDD
  * probe.
  *
  * File-scan estimate: ceil(total adjusted bytes / maxSplitBytes) — the
  * greedy-packing lower bound with Spark's exact split-size formula.
  * The guards this feeds have generous margins (&lt; cores, &gt; 4x
  * cores), so the bound's ≤2x error only moves borderline cases, where
  * either choice is benign.
  */
object PartitionEstimate {

  def leafScanPartitions(df: DataFrame): Option[Long] = {
    val spark = df.queryExecution.sparkSession
    val resolver = spark.sessionState.conf.resolver
    // `filtered`: attributes some Filter above references, carried down
    // through projections and union positions. A filter on a partition
    // column prunes directories before the scan, which a full listing
    // cannot see — such a leaf returns None (the exact probe applies
    // the pruning).
    def est(p: LogicalPlan, filtered: AttributeSet): Option[Long] = p match {
      case u: Union =>
        u.children.foldLeft(Option(0L)) { (acc, c) =>
          val mapped = u.output.zip(c.output).collect { case (o, ca) if filtered.contains(o) => ca }
          for (a <- acc; e <- est(c, filtered ++ AttributeSet(mapped))) yield a + e
        }
      case pr: Project =>
        est(pr.child, filtered ++ AttributeSet(
          pr.projectList.filter(e => filtered.contains(e.toAttribute)).flatMap(_.references)))
      case f: Filter         => est(f.child, filtered ++ f.condition.references)
      case s: SubqueryAlias  => est(s.child, filtered)
      case r: Range =>
        Some(r.numSlices.getOrElse(spark.sparkContext.defaultParallelism).toLong)
      case l: LogicalRDD => Some(l.rdd.getNumPartitions.toLong)
      case l: LocalRelation =>
        // LocalTableScanExec parallelism: min(rows, defaultParallelism), >= 1
        Some(math.max(1L,
          math.min(l.data.length.toLong, spark.sparkContext.defaultParallelism.toLong)))
      case lr: LogicalRelation =>
        lr.relation match {
          case fsr: HadoopFsRelation if lr.output.exists(a => filtered.contains(a) &&
              fsr.partitionSchema.fieldNames.exists(resolver(_, a.name))) => None
          case fsr: HadoopFsRelation =>
            // the listing is the same (cached) one physical planning uses
            val openCost = spark.sessionState.conf.filesOpenCostInBytes
            val sizes = fsr.location.listFiles(Nil, Nil).flatMap(_.files.map(_.getLen))
            val total = sizes.map(_ + openCost).sum
            val maxSplit = FilePartition.maxSplitBytes(spark, total)
            Some(math.max(1L, (total + maxSplit - 1) / maxSplit))
          case _ => None
        }
      case _ => None
    }
    est(df.queryExecution.analyzed, AttributeSet.empty)
  }
}
