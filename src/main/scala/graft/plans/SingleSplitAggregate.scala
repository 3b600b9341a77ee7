package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project, Repartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}

/** O9 — an aggregate over a one-split input runs without a shuffle: the
  * rule puts `Repartition(1, shuffle = false)` directly under it, so
  * `SinglePartition` satisfies its required distribution, planning adds
  * no exchange, and the query runs as one stage in one job (the reference
  * aggregates a segment's bytes in one pass,
  * database/src/compress/buff_simd.rs).
  *
  * It fires only when the aggregate's input
  *  - is reached through `Project` and `Filter` alone, so the partial
  *    aggregate still bounds what the single task handles: no window,
  *    generator, join, union, `Expand` or repartition (a `repartition(n)`
  *    keeps its parallelism, and a placed `Repartition(1, false)` is not
  *    placed again);
  *  - is one non-bucketed v1 file relation listing exactly one file, of at
  *    most `FilePartition.maxSplitBytes` from the relation's cached listing
  *    (the split size the scan will use: one split, one partition);
  *  - and the plan is not streaming (stateful operators need their
  *    shuffle partitioning).
  * Injected as a pre-CBO rule, so it runs once after the optimizer's
  * fixed point, on the plan [[ZoneMapRewrite]] left: the stats scans it
  * produces qualify too, and the coalesce never hides a shape from it.
  */
case class SingleSplitAggregate(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (plan.isStreaming) plan
    else plan.transformUp {
      case agg: Aggregate if oneSplit(agg.child) =>
        agg.copy(child = Repartition(1, shuffle = false, agg.child))
    }

  private def oneSplit(plan: LogicalPlan): Boolean = plan match {
    case p: Project => oneSplit(p.child)
    case f: Filter => oneSplit(f.child)
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation if fs.bucketSpec.isEmpty => fs.location match {
        case index: PartitioningAwareFileIndex =>
          val listing = index.listFiles(Nil, Nil)
          listing.flatMap(_.files) match {
            case Seq(file) => file.getLen <= FilePartition.maxSplitBytes(spark, listing)
            case _ => false
          }
        case _ => false
      }
      case _ => false
    }
    case _ => false
  }
}
