package graft.plans

import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Coalesce, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DataType, StructType}
import graft.sources.BareScan

/** O8 — zone-map answering as a Catalyst optimizer rule (the SQL-visible
  * flavor of the reference's stats-only query path,
  * database/src/buffer_pool.rs:940-1101 / query.rs:41-173): a Count, Min,
  * Max or Sum over a registered readings tier, ungrouped or grouped by
  * `signal_id` (the stats table's key), is rewritten to scan the
  * (SegmentRows-times smaller) per-segment stats table instead of the data.
  *
  * Register tier -> stats pairs with [[ZoneMapRegistry.register]]; the
  * rule runs in sessions built with
  * `spark.sql.extensions=graft.GraftExtensions`.
  *
  * Scope is deliberately conservative — the cases a zone map answers
  * exactly: the aggregate sits directly on a bare scan
  * ([[graft.sources.BareScan]]) of exactly one registered root path, its
  * grouping is nothing or the scan's own `signal_id` column, and every
  * aggregate is `count(1)`, `min`/`max` of `value` or `sum` of `value_q`,
  * none of them DISTINCT or with a FILTER clause.
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
    case agg @ Aggregate(groups, aggExprs, BareScan(scan), _) =>
      rewrite(agg, groups, aggExprs, scan).getOrElse(agg)
  }

  /** Decided from the aggregate expressions and the registered schema
    * before the stats are read, so a plan the rule leaves alone costs
    * nothing; reading the stats with the registered schema runs no job.
    * Every output keeps its exprId: the aggregates are replaced inside
    * their aliases, and the grouping attribute is re-aliased over the
    * stats table's `signal_id`.
    */
  private def rewrite(agg: Aggregate, groups: Seq[Expression],
                      aggExprs: Seq[NamedExpression], scan: BareScan): Option[LogicalPlan] = for {
    key <- groups match {
      case Nil => Some(None)
      case Seq(g: AttributeReference) if scan.column(g).contains("signal_id") => Some(Some(g))
      case _ => None
    }
    cols <- statsColumns(aggExprs, scan)
    (statsPath, schema) <- registeredStats(scan)
    typed = (name: String, t: DataType) => schema.find(_.name == name).exists(_.dataType == t)
    if cols.forall { case (ae, c) => typed(c, ae.dataType) } &&
      key.forall(g => typed("signal_id", g.dataType))
    statsPlan = spark.read.schema(schema).parquet(statsPath).queryExecution.analyzed
    attrs = statsPlan.output.map(a => a.name -> a).toMap
    answers = cols.map { case (ae, c) => ae -> answer(ae, attrs(c)) }.toMap
  } yield agg.copy(
    aggregateExpressions = aggExprs.map(_.transformDown {
      case ae: AggregateExpression if answers.contains(ae) => answers(ae)
    }.asInstanceOf[NamedExpression]),
    child = key.fold(statsPlan)(g => Project(
      Alias(attrs("signal_id"), g.name)(exprId = g.exprId) +: statsPlan.output, statsPlan)))

  /** The stats aggregate that answers `ae` from column `c`: a row count is
    * the sum of the segment counts, never null (an empty tier has no
    * segments, and `count(1)` over it is 0); min/max/sum fold alike.
    */
  private def answer(ae: AggregateExpression, c: Attribute): Expression = ae.aggregateFunction match {
    case _: Count => Coalesce(Seq(ae.copy(aggregateFunction = Sum(c)), Literal(0L)))
    case f => ae.copy(aggregateFunction = f.withNewChildren(Seq(c)).asInstanceOf[AggregateFunction])
  }

  /** Each aggregate with the stats column that answers it, or None if
    * one cannot be answered from stats: count(1) reads the segment counts;
    * max/min over `value` read vmax/vmin; sum over the fixed-point
    * `value_q` reads the exact long per-segment sums (the AggStats sum
    * path, buffer_pool.rs:940-1101).
    */
  private def statsColumns(aggExprs: Seq[NamedExpression], scan: BareScan)
      : Option[Seq[(AggregateExpression, String)]] = {
    def reads(a: Expression, name: String) = a match {
      case a: AttributeReference => scan.column(a).contains(name)
      case _ => false
    }
    val found = aggExprs.flatMap(_.collect { case ae: AggregateExpression => ae }).distinct
    val cols = found.map {
      case ae if ae.filter.isEmpty && !ae.isDistinct =>
        (ae.aggregateFunction match {
          case Count(Seq(Literal(v, _))) if v != null => Some("cnt")
          case Max(a) if reads(a, "value") => Some("vmax")
          case Min(a) if reads(a, "value") => Some("vmin")
          case Sum(a, _) if reads(a, "value_q") => Some("sum_q")
          case _ => None
        }).map(ae -> _)
      case _ => None
    }
    if (found.nonEmpty && cols.forall(_.isDefined)) Some(cols.flatten) else None
  }

  /** The stats registered for the scan's relation, which must have exactly
    * one root path: stats registered for one directory do not answer a
    * read of it together with others.
    */
  private def registeredStats(scan: BareScan): Option[(String, StructType)] =
    scan.relation.location.rootPaths match {
      case Seq(root) => ZoneMapRegistry.lookup(root.toString)
      case _ => None
    }
}
