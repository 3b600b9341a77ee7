package graft.plans

import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Expression, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** O8 — zone-map answering as a Catalyst optimizer rule (the SQL-visible
  * flavor of the reference's stats-only query path,
  * database/src/buffer_pool.rs:940-1101 / avl/btrarr.rs): a grand-total
  * max/min over a registered readings tier is rewritten to scan the
  * (SegmentRows-times smaller) per-segment stats table instead of the data.
  *
  * Register tier -> stats pairs with [[ZoneMapRegistry.register]]; the
  * rule runs in sessions built with
  * `spark.sql.extensions=graft.GraftExtensions`.
  *
  * Scope is deliberately conservative: ungrouped Max/Min over the bare
  * `value` column, no filters between the aggregate and the scan — the
  * cases a zone map answers exactly.
  */
object ZoneMapRegistry {
  private val statsFor = TrieMap.empty[String, String]

  private def norm(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  def register(dataPath: String, statsPath: String): Unit =
    statsFor.put(norm(dataPath), statsPath)

  def lookup(dataPath: String): Option[String] = statsFor.get(norm(dataPath))

  def clear(): Unit = statsFor.clear()
}

case class ZoneMapRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  private val statsColFor = Map[Class[_], String](
    classOf[Max] -> "vmax", classOf[Min] -> "vmin")

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(Nil, aggExprs, child, _) =>
      rewrite(agg, aggExprs, child).getOrElse(agg)
  }

  private def rewrite(agg: Aggregate, aggExprs: Seq[NamedExpression],
                      child: LogicalPlan): Option[LogicalPlan] = {
    for {
      statsPath <- registeredLeafStats(child)
      rewritten <- rewriteAggExprs(aggExprs, statsPath)
    } yield rewritten
  }

  /** The child must be a pure column selection over one registered scan. */
  private def registeredLeafStats(plan: LogicalPlan): Option[String] = plan match {
    case Project(projectList, c) if projectList.forall(isPlainColumn) =>
      registeredLeafStats(c)
    case SubqueryAlias(_, c) => registeredLeafStats(c)
    case lr: LogicalRelation =>
      lr.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.headOption
            .flatMap(p => ZoneMapRegistry.lookup(p.toString))
        case _ => None
      }
    case _: Filter => None
    case _ => None
  }

  private def isPlainColumn(e: NamedExpression): Boolean = e match {
    case _: AttributeReference => true
    case Alias(_: AttributeReference, _) => true
    case _ => false
  }

  private def rewriteAggExprs(aggExprs: Seq[NamedExpression],
                              statsPath: String): Option[LogicalPlan] = {
    val statsPlan = spark.read.parquet(statsPath).queryExecution.analyzed
    def statsAttr(name: String): Option[AttributeReference] =
      statsPlan.output.collectFirst {
        case a: AttributeReference if a.name == name => a
      }

    val rewritten = aggExprs.map {
      case al @ Alias(ae: AggregateExpression, name) =>
        (ae.aggregateFunction, ae.filter) match {
          case (Max(a: AttributeReference), None) if a.name == "value" =>
            statsAttr("vmax").map(s =>
              Alias(ae.copy(aggregateFunction = Max(s)), name)(exprId = al.exprId))
          case (Min(a: AttributeReference), None) if a.name == "value" =>
            statsAttr("vmin").map(s =>
              Alias(ae.copy(aggregateFunction = Min(s)), name)(exprId = al.exprId))
          // sum over the fixed-point column: per-segment sum_q values are
          // exact longs, so summing them equals summing the data column
          // (the AggStats sum path, buffer_pool.rs:940-1101)
          case (Sum(a: AttributeReference, _), None) if a.name == "value_q" =>
            statsAttr("sum_q").map(s =>
              Alias(ae.copy(aggregateFunction = Sum(s)), name)(exprId = al.exprId))
          case _ => None
        }
      case _ => None
    }
    if (rewritten.forall(_.isDefined))
      Some(Aggregate(Nil, rewritten.map(_.get), statsPlan))
    else None
  }
}
