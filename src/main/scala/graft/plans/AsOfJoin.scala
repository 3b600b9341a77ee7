package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetrics

/** Native as-of join — a whole-operator Catalyst extension (SURVEY §7.3
  * preference (c): custom LogicalPlan + Strategy + SparkPlan), the
  * physical form of the reference's "latest state at event time" join
  * (tsbs/mod.rs:28-48 generalized).
  *
  * Semantics: for each left row (key, t), attach the payload of the
  * LATEST right row (key, rt) with rt <= t (inclusive); null payload when
  * no right row precedes. Identical to IntervalOps.asofJoin (the
  * composed union+window form), but as one first-class operator:
  *
  *  - `requiredChildDistribution` clusters both children on the join key,
  *    so EnsureRequirements co-partitions them exactly as it would a
  *    shuffled join (one keyed exchange per side, reusable downstream);
  *  - `requiredChildOrdering` asks for (key, time) sort within
  *    partitions, satisfied for free when an ingest tier is already
  *    bucketed+sorted (BucketedStore) — then the join is exchange-free;
  *  - execution is a single streaming merge pass per partition: O(|L|+|R|)
  *    with ONE buffered payload row of state, no per-key window buffering,
  *    no union row blow-up — the shape that survives 100 TB per-key skew.
  */
case class AsOfJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    rightPayload: Seq[Attribute],
    toleranceUs: Option[Long] = None) extends BinaryNode {

  // payload attrs keep their exprIds (nullable: unmatched left rows) —
  // callers must not pass payload columns that shadow left-side exprIds
  override def output: Seq[Attribute] =
    left.output ++ rightPayload.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

case class AsOfJoinExec(
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    rightPayload: Seq[Attribute],
    toleranceUs: Option[Long],
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def output: Seq[Attribute] =
    left.output ++ rightPayload.map(_.withNullability(true))

  // both sides clustered on the key: EnsureRequirements inserts compatible
  // hash exchanges (or none, if the children are already co-partitioned)
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightTime, Ascending))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val lOut = left.output
    val rOut = right.output
    val lKeys = leftKeys
    val rKeys = rightKeys
    val lTime = leftTime
    val rTime = rightTime
    val payload = rightPayload
    val tol = toleranceUs
    val outAttrs = output
    val timeOrdering = TypeUtils.getInterpretedOrdering(leftTime.dataType)
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeys, lOut)
      val rKeyProj = UnsafeProjection.create(rKeys, rOut)
      val payloadProj = UnsafeProjection.create(payload, rOut)
      val lTimeEval = BindReferences.bindReference(lTime, lOut)
      val rTimeEval = BindReferences.bindReference(rTime, rOut)
      val keyOrdering =
        RowOrdering.createNaturalAscendingOrdering(lKeys.map(_.dataType))
      val outProj = UnsafeProjection.create(outAttrs, outAttrs)
      val joined = new JoinedRow
      val nullPayload = new GenericInternalRow(payload.size)
      val rBuf = rIter.buffered

      // one streaming pass: rows on both sides arrive sorted by (key, t);
      // curKey/curPayload hold the latest consumed right row (curTime its
      // micros timestamp, read only when a staleness tolerance is set)
      var curKey: InternalRow = null
      var curPayload: InternalRow = null
      var curTime: Long = 0L

      lIter.map { lRow =>
        val lk = lKeyProj(lRow)
        val lt = lTimeEval.eval(lRow)
        var advance = lt != null
        while (advance && rBuf.hasNext) {
          val rRow = rBuf.head
          val rk = rKeyProj(rRow)
          val cmp = keyOrdering.compare(rk, lk)
          val rt = if (cmp <= 0) rTimeEval.eval(rRow) else null
          // consume right rows up to (key, time); null right times sort
          // first (NULLS FIRST) and are consumed-but-never-matched
          if (cmp < 0 || (cmp == 0 &&
              (rt == null || timeOrdering.compare(rt, lt) <= 0))) {
            if (cmp == 0 && rt != null) {
              curKey = rk.copy()
              curPayload = payloadProj(rRow).copy()
              // only the tolerance path needs the raw micros; guard the
              // cast so non-long-backed time types still work without tol
              if (tol.nonEmpty) curTime = rt.asInstanceOf[Long]
            }
            rBuf.next()
          } else {
            advance = false
          }
        }
        val matched =
          curKey != null && lt != null &&
            keyOrdering.compare(curKey, lk) == 0 &&
            tol.forall(t => lt.asInstanceOf[Long] - curTime <= t)
        numOutputRows += 1
        outProj(joined(lRow, if (matched) curPayload else nullPayload))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinPlan]] to [[AsOfJoinExec]]; injected via
  * `spark.experimental.extraStrategies` ([[NativeAsOf.ensureRegistered]])
  * or cluster-wide via `spark.sql.extensions=graft.GraftExtensions`.
  */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, payload, tol) =>
      AsOfJoinExec(lk, rk, lt, rt, payload, tol, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** DataFrame-level API over the native operator, signature-compatible
  * with IntervalOps.asofJoin.
  */
object NativeAsOf {

  /** Idempotent programmatic strategy registration. Every session this
    * repo builds (`graft.Session.local`) already has the strategy through
    * `graft.GraftExtensions`; this covers a session built elsewhere, such
    * as one that calls `SparkEntry` without loading the extension.
    */
  def ensureRegistered(spark: SparkSession): Unit = synchronized {
    val e = spark.experimental
    if (!e.extraStrategies.contains(AsOfJoinStrategy))
      e.extraStrategies = e.extraStrategies :+ AsOfJoinStrategy
  }

  /** As-of join `left` with `right` on `key`, matching the latest right
    * row with `rightTs` <= `leftTs`; carries `rightCols` (null when no
    * right row precedes). `rightCols` must not shadow left-side columns.
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
               leftTs: String, rightTs: String,
               rightCols: Seq[String]): DataFrame =
    asofJoinImpl(left, right, key, leftTs, rightTs, rightCols, None)

  /** Tolerance variant: a match staler than `toleranceSec` at the left
    * row's timestamp is dropped (null payload) — the native twin of
    * IntervalOps.asofJoinTolerance, same single merge pass (the staleness
    * test is one comparison against the buffered match's micros).
    * Timestamp (micros-backed) time columns only.
    */
  def asofJoinTolerance(left: DataFrame, right: DataFrame, key: String,
                        leftTs: String, rightTs: String,
                        rightCols: Seq[String], toleranceSec: Long): DataFrame =
    asofJoinImpl(left, right, key, leftTs, rightTs, rightCols,
      Some(toleranceSec * 1000000L))

  private def asofJoinImpl(left: DataFrame, right: DataFrame, key: String,
               leftTs: String, rightTs: String,
               rightCols: Seq[String], toleranceUs: Option[Long]): DataFrame = {
    val spark = left.sparkSession
    ensureRegistered(spark)
    val lPlan = left.queryExecution.analyzed
    // Self-join safety: a hand-built binary node skips the analyzer's
    // DeduplicateRelations, so a right side derived from the same source
    // as the left would share exprIds and the optimizer would mis-prune.
    // Re-aliasing every right column mints fresh exprIds unconditionally.
    val rPlan = {
      import org.apache.spark.sql.functions.col
      right.select(right.columns.toSeq.map(c => col(c).as(c)): _*)
        .queryExecution.analyzed
    }
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"column $n not found in ${p.output.map(_.name)}"))
    toleranceUs.foreach { _ =>
      val tt = attr(lPlan, leftTs).dataType
      val rt = attr(rPlan, rightTs).dataType
      require(tt == org.apache.spark.sql.types.TimestampType &&
        rt == org.apache.spark.sql.types.TimestampType,
        s"asofJoinTolerance needs TimestampType time columns, got $tt/$rt")
    }
    GraftSqlBridge.ofRows(spark, AsOfJoinPlan(
      lPlan, rPlan,
      Seq(attr(lPlan, key)), Seq(attr(rPlan, key)),
      attr(lPlan, leftTs), attr(rPlan, rightTs),
      rightCols.map(attr(rPlan, _)), toleranceUs))
  }
}
