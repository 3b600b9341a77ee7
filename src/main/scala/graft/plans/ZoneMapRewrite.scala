package graft.plans

import scala.collection.concurrent.TrieMap
import scala.util.Try
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Add, Alias, And, Attribute, AttributeReference, Cast, Coalesce, CreateNamedStruct, Divide, ExprId, Expression, Floor, GetStructField, GreaterThan, GreaterThanOrEqual, IsNotNull, LessThan, LessThanOrEqual, Literal, Multiply, NamedExpression, PredicateHelper, Subtract, SubqueryExpression, UnaryMinus}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StructType}
import graft.operators.Readings

/** O8 — zone-map answering as a Catalyst optimizer rule (the SQL-visible
  * flavor of the reference's stats-only query path,
  * database/src/buffer_pool.rs:940-1101 / query.rs:41-173): an aggregate
  * over a registered readings tier that the per-(signal, segment) stats
  * answer exactly is rewritten to scan the (SegmentRows-times smaller)
  * stats table instead of the data.
  *
  * Register tier -> stats pairs with [[ZoneMapRegistry.register]]; the
  * rule runs in sessions built with
  * `spark.sql.extensions=graft.GraftExtensions`.
  *
  * Scope — the cases whose every group gathers whole segments:
  *  - the input is one registered Parquet root path under projections and
  *    filters only;
  *  - grouping is by nothing, the `signal_id` column and/or a
  *    segment-aligned `Readings.posWindow(seq_no, s, w)` (`s` and `w`
  *    multiples of `SegmentRows`, as the optimizer's pulled-out
  *    `_groupingexpression` computes it); a window is answered with
  *    `seq_no := seg * SegmentRows + 1`, the segment's first position;
  *  - every filter conjunct reads `signal_id` alone, or bounds `seq_no`
  *    on a segment boundary (`seq_no > 16k`, `seq_no <= 16k`,
  *    `seq_no >= 16k + 1`, `seq_no < 16k + 1`, `isnotnull(seq_no)`);
  *  - every aggregate is `count(1)`, `min`/`max` of `value`, `sum` of
  *    `value_q`, the first argmax `max(struct(value, -seq_no))` or the
  *    last point `max(struct(ts, seq_no, value))` (struct field names are
  *    the query's own), none DISTINCT or with a FILTER clause; an
  *    aggregate with no aggregate function reads the stats keys, since a
  *    stats row exists only for a segment with rows.
  * Positions are taken below 2^53, where posWindow's double arithmetic is
  * exact. A stats table registered without a needed column (or with
  * another type) answers nothing that needs it.
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
  import ZoneMapRewrite._

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(_, _, TierView(view), _) => rewrite(agg, view).getOrElse(agg)
  }

  /** Decided from the plan and the registered schema before the stats are
    * read, so a plan the rule leaves alone costs nothing; reading the
    * stats with the registered schema runs no job. Every output keeps its
    * exprId: the aggregates are replaced inside their aliases, and each
    * grouping attribute is re-aliased over its stats expression.
    */
  private def rewrite(agg: Aggregate, view: TierView): Option[LogicalPlan] = {
    val keys = agg.groupingExpressions.flatMap(_.references).distinct
    val found = agg.aggregateExpressions.flatMap(_.collect { case ae: AggregateExpression => ae }).distinct
    for {
      (statsPath, schema) <- registeredStats(view.relation)
      keyDefs = keys.map(k => k -> view.defs(k.exprId))
      if keyDefs.forall { case (_, d) => isKey(d) } && view.conds.forall(isSegmentFilter)
      ways = found.flatMap(ae => answerer(ae, view).map(ae -> _))
      if ways.length == found.length
      statsAttr = (name: String) =>
        schema.find(_.name == name).map(f => AttributeReference(f.name, f.dataType)())
      // the stats stand in for each column the keys and filters read
      // (seq_no by the long segment id) and for each aggregate's column
      if (keyDefs.map(_._2) ++ view.conds).flatMap(_.references).forall { r =>
        if (isCol(r, "seq_no")) statsAttr("seg").exists(_.dataType == LongType)
        else statsAttr(r.name).exists(a => same(a.dataType, r.dataType))
      } && ways.forall { case (ae, (c, fn)) =>
        statsAttr(c).flatMap(a => Try(fn(a).dataType).toOption)
          .exists(same(_, ae.aggregateFunction.dataType))
      }
    } yield {
      val statsPlan = spark.read.schema(schema).parquet(statsPath).queryExecution.analyzed
      val attr = statsPlan.output.map(a => a.name -> a).toMap
      val firstPos = Add(Multiply(attr("seg"), Literal(Readings.SegmentRows)), Literal(1L))
      def onStats(e: Expression): Expression = e.transformUp {
        case a: AttributeReference if isCol(a, "seq_no") => firstPos
        case a: AttributeReference => attr(a.name)
      }
      val filtered = view.conds.map(onStats).reduceOption(And).fold(statsPlan)(Filter(_, statsPlan))
      val keyed = Project(keyDefs.map { case (k, d) => Alias(onStats(d), k.name)(exprId = k.exprId) } ++
        statsPlan.output, filtered)
      val answers = ways.map { case (ae, (c, fn)) =>
        val stat = ae.copy(aggregateFunction = fn(attr(c)))
        ae -> (if (ae.aggregateFunction.isInstanceOf[Count]) Coalesce(Seq(stat, Literal(0L))) else stat)
      }.toMap
      agg.copy(
        aggregateExpressions = agg.aggregateExpressions.map(_.transformDown {
          case ae: AggregateExpression if answers.contains(ae) => answers(ae)
        }.asInstanceOf[NamedExpression]),
        child = keyed)
    }
  }

  /** The stats registered for the relation, which must have exactly one
    * root path: stats registered for one directory do not answer a read of
    * it together with others.
    */
  private def registeredStats(relation: HadoopFsRelation): Option[(String, StructType)] =
    relation.location.rootPaths match {
      case Seq(root) => ZoneMapRegistry.lookup(root.toString)
      case _ => None
    }
}

object ZoneMapRewrite extends PredicateHelper {

  /** An aggregate's input seen as one Parquet relation: what each output
    * attribute computes and the filter conjuncts, both as expressions over
    * the relation's own column attributes.
    */
  private final case class TierView(relation: HadoopFsRelation,
                                    defs: Map[ExprId, Expression], conds: Seq[Expression]) {
    def inline(e: Expression): Expression = e.transformUp {
      case a: Attribute if defs.contains(a.exprId) => defs(a.exprId)
    }
  }

  private object TierView {
    def unapply(plan: LogicalPlan): Option[TierView] = plan match {
      case Project(list, TierView(v)) if list.forall(_.deterministic) =>
        Some(v.copy(defs = list.map {
          case al: Alias => al.exprId -> v.inline(al.child)
          case e => e.exprId -> v.inline(e)
        }.toMap))
      case Filter(cond, TierView(v)) if cond.deterministic && !SubqueryExpression.hasSubquery(cond) =>
        Some(v.copy(conds = v.conds ++ splitConjunctivePredicates(v.inline(cond))))
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation if fs.fileFormat.isInstanceOf[ParquetFileFormat] =>
          Some(TierView(fs, lr.output.map(a => a.exprId -> a).toMap, Nil))
        case _ => None
      }
      case _ => None
    }
  }

  private val Seg = Readings.SegmentRows

  /** `e` reads the relation column `name` as is. */
  private def isCol(e: Expression, name: String): Boolean = e match {
    case a: AttributeReference => a.name == name
    case _ => false
  }

  private def same(a: DataType, b: DataType): Boolean = DataTypeUtils.equalsIgnoreNullability(a, b)

  /** `Readings.posWindow(seq, start, width)` as the optimizer leaves it:
    * floor(cast(seq - 1 - start as double) / width).
    */
  private object PosWindow {
    def unapply(e: Expression): Option[(Expression, Long, Double)] = e match {
      case Floor(Divide(Cast(Subtract(Subtract(q, Literal(1L, LongType), _),
          Literal(s: Long, LongType), _), DoubleType, _, _), Literal(w: Double, DoubleType), _)) =>
        Some((q, s, w))
      case _ => None
    }
  }

  private def onBoundary(b: Long): Boolean = Math.floorMod(b, Seg) == 0L

  /** A grouping key the stats answer: `signal_id`, or a positional window
    * whose start and width are whole segments.
    */
  private def isKey(e: Expression): Boolean = isCol(e, "signal_id") || (e match {
    case PosWindow(q, s, w) => isCol(q, "seq_no") && onBoundary(s) &&
      w >= Seg && w <= (1L << 53) && w.isWhole && onBoundary(w.toLong)
    case _ => false
  })

  /** A filter conjunct that keeps or drops whole segments: one over
    * `signal_id` alone, or a `seq_no` bound on a segment boundary (the
    * always-true `seq_no <= Long.MaxValue` included).
    */
  private def isSegmentFilter(c: Expression): Boolean = {
    def seq(q: Expression) = isCol(q, "seq_no")
    c.references.forall(isCol(_, "signal_id")) || (c match {
      case IsNotNull(q) => seq(q)
      case GreaterThan(q, Literal(b: Long, LongType)) => seq(q) && onBoundary(b)
      case LessThanOrEqual(q, Literal(b: Long, LongType)) => seq(q) && (onBoundary(b) || b == Long.MaxValue)
      case GreaterThanOrEqual(q, Literal(b: Long, LongType)) => seq(q) && onBoundary(b - 1)
      case LessThan(q, Literal(b: Long, LongType)) => seq(q) && onBoundary(b - 1)
      case LessThan(b: Literal, q) => isSegmentFilter(GreaterThan(q, b))
      case GreaterThanOrEqual(b: Literal, q) => isSegmentFilter(LessThanOrEqual(q, b))
      case LessThanOrEqual(b: Literal, q) => isSegmentFilter(GreaterThanOrEqual(q, b))
      case GreaterThan(b: Literal, q) => isSegmentFilter(LessThan(q, b))
      case _ => false
    })
  }

  /** The stats column that answers `ae` and the aggregate over it:
    * count(1) sums the segment counts; max/min over `value` read
    * vmax/vmin; sum over the fixed-point `value_q` reads the exact long
    * per-segment sums (the AggStats sum path, buffer_pool.rs:940-1101);
    * the argmax and last-point struct maxima re-max the per-segment
    * structs, rebuilt under the query's field names.
    */
  private def answerer(ae: AggregateExpression, view: TierView)
      : Option[(String, Expression => AggregateFunction)] = {
    def fields(c: Expression, names: Expression*): Expression =
      CreateNamedStruct(names.zipWithIndex.flatMap { case (n, i) => Seq(n, GetStructField(c, i)) })
    val f = ae.aggregateFunction
    val over = (c: Expression) => f.withNewChildren(Seq(c)).asInstanceOf[AggregateFunction]
    if (ae.filter.nonEmpty || ae.isDistinct) None
    else view.inline(f) match {
      case Count(Seq(Literal(v, _))) if v != null => Some("cnt" -> (c => Sum(c)))
      case Max(a) if isCol(a, "value") => Some("vmax" -> over)
      case Min(a) if isCol(a, "value") => Some("vmin" -> over)
      case Sum(a, _) if isCol(a, "value_q") => Some("sum_q" -> over)
      case Max(CreateNamedStruct(Seq(n1, v, n2, UnaryMinus(q, _))))
          if isCol(v, "value") && isCol(q, "seq_no") =>
        Some("amax" -> (c => Max(fields(c, n1, n2))))
      case Max(CreateNamedStruct(Seq(n1, t, n2, q, n3, v)))
          if isCol(t, "ts") && isCol(q, "seq_no") && isCol(v, "value") =>
        Some("last" -> (c => Max(fields(c, n1, n2, n3))))
      case _ => None
    }
  }
}
