package graft.plans

import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.StructType

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
  private val statsFor = TrieMap.empty[String, (String, StructType)]

  private def norm(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  /** `statsSchema` is the schema of the frame written to `statsPath`: the
    * rule reads the stats with it, so planning never infers a schema.
    */
  def register(dataPath: String, statsPath: String, statsSchema: StructType): Unit =
    statsFor.put(norm(dataPath), (statsPath, statsSchema))

  def lookup(dataPath: String): Option[(String, StructType)] = statsFor.get(norm(dataPath))

  def clear(): Unit = statsFor.clear()
}

case class ZoneMapRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(Nil, aggExprs, child, _) =>
      rewrite(aggExprs, child).getOrElse(agg)
  }

  /** Decided from the aggregate expressions and the registered schema
    * before the stats are read, so a plan the rule leaves alone costs
    * nothing; reading the stats with the registered schema runs no job.
    */
  private def rewrite(aggExprs: Seq[NamedExpression],
                      child: LogicalPlan): Option[LogicalPlan] = for {
    cols <- statsColumns(aggExprs)
    (statsPath, schema) <- registeredLeafStats(child)
    if cols.forall { case (ae, c) =>
      schema.find(_.name == c).exists(_.dataType == ae.dataType) }
    statsPlan = spark.read.schema(schema).parquet(statsPath).queryExecution.analyzed
    attrs = statsPlan.output.map(a => a.name -> a).toMap
  } yield Aggregate(Nil, aggExprs.zip(cols).map { case (al, (ae, c)) =>
      Alias(ae.copy(aggregateFunction =
        ae.aggregateFunction.withNewChildren(Seq(attrs(c))).asInstanceOf[AggregateFunction]),
        al.name)(exprId = al.exprId)
    }, statsPlan)

  /** Each aggregate with the stats column that answers it, or None if
    * one cannot be answered from stats: max/min over `value` read
    * vmax/vmin; sum over the fixed-point `value_q` reads the exact long
    * per-segment sums (the AggStats sum path, buffer_pool.rs:940-1101).
    */
  private def statsColumns(aggExprs: Seq[NamedExpression])
      : Option[Seq[(AggregateExpression, String)]] = {
    val cols = aggExprs.map {
      case Alias(ae: AggregateExpression, _) if ae.filter.isEmpty && !ae.isDistinct =>
        (ae.aggregateFunction match {
          case Max(a: AttributeReference) if a.name == "value" => Some("vmax")
          case Min(a: AttributeReference) if a.name == "value" => Some("vmin")
          case Sum(a: AttributeReference, _) if a.name == "value_q" => Some("sum_q")
          case _ => None
        }).map(ae -> _)
      case _ => None
    }
    if (cols.forall(_.isDefined)) Some(cols.flatten) else None
  }

  /** The child must be a pure column selection over one registered scan. */
  private def registeredLeafStats(plan: LogicalPlan): Option[(String, StructType)] = plan match {
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
    case _ => None
  }

  private def isPlainColumn(e: NamedExpression): Boolean = e match {
    case _: AttributeReference => true
    case Alias(_: AttributeReference, _) => true
    case _ => false
  }
}
