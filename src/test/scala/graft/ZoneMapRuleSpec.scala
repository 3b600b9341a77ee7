package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.CoalesceExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.expressions.Window
import graft.operators.{Readings, TierManager, TsQuery}
import graft.plans.{ZoneMap, ZoneMapRegistry, ZoneMapRewrite}

/** O8 — the zone-map optimizer rule: count/min/max/sum, the first argmax
  * and the last point over a registered tier, grouped by nothing,
  * `signal_id` and/or a segment-aligned positional window, filtered on
  * `signal_id` or segment-aligned `seq_no` bounds, must be answered from
  * the stats table, with identical results; anything else reads the tier.
  */
class ZoneMapRuleSpec extends AnyFunSuite with SparkTest with AdaptiveSparkPlanHelper {

  private lazy val (tierPath, statsPath, statsSchema) = {
    val base = Files.createTempDirectory("graft-zonemap").toString
    val r = Readings.of(spark, "/root/testdata/sf0.001")
    r.write.mode("overwrite").parquet(s"$base/tier")
    val stats = ZoneMap.segmentStats(r)
    stats.write.mode("overwrite").parquet(s"$base/stats")
    (s"$base/tier", s"$base/stats", stats.schema)
  }

  test("max/min over a registered tier is rewritten to the stats table") {
    ZoneMapRegistry.register(tierPath, statsPath, statsSchema)
    val q = spark.read.parquet(tierPath)
      .agg(max(col("value")).as("vmax"), min(col("value")).as("vmin"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains(statsPath), s"expected stats scan in plan:\n$plan")
    assert(!plan.contains(tierPath), "data tier should not be scanned")

    val viaRule = q.collect()(0)
    val direct = fromData(spark.read.parquet(tierPath)
      .agg(max(col("value")), min(col("value")))).head
    assert(viaRule.getDouble(0) == direct.getDouble(0))
    assert(viaRule.getDouble(1) == direct.getDouble(1))
  }

  test("sum over the fixed-point column is rewritten to the stats sums") {
    ZoneMapRegistry.register(tierPath, statsPath, statsSchema)
    val q = spark.read.parquet(tierPath)
      .agg(sum(col("value_q")).as("sum_q"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains(statsPath), s"expected stats scan in plan:\n$plan")
    assert(!plan.contains(tierPath), "data tier should not be scanned")
    val viaRule = q.collect()(0).getLong(0)
    val direct = fromData(spark.read.parquet(tierPath)
      .agg(sum(col("value_q")))).head.getLong(0)
    assert(viaRule == direct, "stats-served sum diverges from data sum")
  }

  test("a filtered aggregate is NOT rewritten") {
    // a filter on a non-key column cuts segments; one on signal_id does not
    ZoneMapRegistry.register(tierPath, statsPath, statsSchema)
    val filtered = spark.read.parquet(tierPath)
      .filter(col("value") > 100.0).agg(max(col("value")))
    assert(filtered.queryExecution.executedPlan.toString.contains(tierPath))
  }

  test("a distinct sum is NOT rewritten") {
    // per-segment sums cannot answer sum(DISTINCT value_q)
    ZoneMapRegistry.register(tierPath, statsPath, statsSchema)
    val q = spark.read.parquet(tierPath).agg(sum_distinct(col("value_q")))
    assert(q.queryExecution.executedPlan.toString.contains(tierPath))
    val direct = spark.read.parquet(tierPath).select(col("value_q")).distinct()
      .agg(sum(col("value_q"))).collect()(0).getLong(0)
    assert(q.collect()(0).getLong(0) == direct)
  }

  test("planning an ungrouped aggregate over a registered tier runs no job") {
    ZoneMapRegistry.register(tierPath, statsPath, statsSchema)
    val rewritable = spark.read.parquet(tierPath).agg(max(col("value")))
    val other = spark.read.parquet(tierPath)
      .agg(min(col("value_q")), max(col("value_q")))
    for (q <- Seq(rewritable, other))
      assert(counters(q.queryExecution.optimizedPlan)("jobs") == 0L,
        s"planning ran a job:\n${q.queryExecution.optimizedPlan}")
    assert(rewritable.queryExecution.executedPlan.toString.contains(statsPath))
    assert(other.queryExecution.executedPlan.toString.contains(tierPath))
  }

  test("a stats table without the needed column is not used") {
    // registered without vmax: max(value) must read the data, not nulls
    ZoneMapRegistry.register(tierPath, statsPath,
      org.apache.spark.sql.types.StructType(statsSchema.filterNot(_.name == "vmax")))
    try {
      val q = spark.read.parquet(tierPath).agg(max(col("value")))
      assert(q.queryExecution.executedPlan.toString.contains(tierPath))
      // a filter between scan and aggregate keeps the rule off
      val direct = spark.read.parquet(tierPath).filter(col("value").isNotNull)
        .agg(max(col("value"))).collect()(0).getDouble(0)
      assert(q.collect()(0).getDouble(0) == direct)
    } finally ZoneMapRegistry.register(tierPath, statsPath, statsSchema)
  }

  test("a read of a registered directory together with another is not answered from its stats") {
    ZoneMapRegistry.register(tierPath, statsPath, statsSchema)
    val other = Files.createTempDirectory("graft-zonemap-other").toString + "/tier"
    spark.read.parquet(tierPath).withColumn("value", col("value") + 1000000.0)
      .write.parquet(other)
    val q = spark.read.parquet(tierPath, other).agg(max(col("value")).as("vmax"))
    val want = spark.read.parquet(other).agg(max(col("value"))).first().getDouble(0)
    assert(q.first().getDouble(0) == want)
    assert(roots(q).toSet == Set(tierPath, other))
  }

  private lazy val landed = {
    val tm = new TierManager(spark, Files.createTempDirectory("graft-zonemap-tm").toString)
    tm.landTier0(spark.read.parquet(tierPath))
    tm.tier0
  }

  test("per-signal count/min/max/sum over a landed tier reads only the stats rows") {
    def q = TsQuery.aggAll(spark.read.parquet(landed))
    val rewritten = q
    assert(roots(rewritten) == Seq(s"$landed.stats"), rewritten.queryExecution.optimizedPlan)
    // the rule alone keeps every output exprId, the grouping key's included
    val analyzed = rewritten.queryExecution.analyzed
    val byRule = ZoneMapRewrite(spark)(analyzed)
    assert(byRule != analyzed && byRule.resolved)
    assert(byRule.output.map(_.exprId) == analyzed.output.map(_.exprId), byRule)
    var got = Set.empty[Row]
    val read = counters { got = rewritten.collect().toSet }("input_records")
    assert(got == fromData(q))
    assert(read == spark.read.parquet(s"$landed.stats").count(),
      s"read $read records, not the stats rows")
    // SQL count(*), grouped on a renamed signal_id
    spark.read.parquet(landed).createOrReplaceTempView("zm_landed")
    def sql = spark.sql("SELECT sid, count(*) AS n, max(value) AS hi " +
      "FROM (SELECT signal_id AS sid, value FROM zm_landed) GROUP BY sid")
    assert(roots(sql) == Seq(s"$landed.stats"), sql.queryExecution.optimizedPlan)
    assert(sql.collect().toSet == fromData(sql))
  }

  test("aggregates grouped off signal_id, over a filter, on count(col) or distinct are NOT rewritten") {
    def t = spark.read.parquet(landed)
    val queries: Seq[() => DataFrame] = Seq(
      () => t.groupBy(col("seq_no")).agg(max(col("value"))),
      () => t.groupBy(col("signal_id") + 1).agg(max(col("value"))),
      () => t.groupBy(col("signal_id")).agg(count(col("value"))),
      () => t.filter(col("seq_no") > 3L).groupBy(col("signal_id")).agg(max(col("value"))),
      () => t.groupBy(col("signal_id")).agg(sum_distinct(col("value_q"))),
      () => t.groupBy(col("signal_id"), col("seq_no")).agg(max(col("value"))),
      () => t.select(col("seq_no").as("signal_id"), col("value"))
        .groupBy(col("signal_id")).agg(max(col("value"))))
    for (q <- queries) {
      assert(roots(q()) == Seq(landed), q().queryExecution.optimizedPlan)
      assert(q().collect().toSet == fromData(q()))
    }
  }

  test("an empty registered tier gives the data's answer, count 0 included") {
    val base = Files.createTempDirectory("graft-zonemap-empty").toString
    spark.read.parquet(tierPath).limit(0).write.parquet(s"$base/tier")
    val stats = ZoneMap.segmentStats(spark.read.parquet(s"$base/tier"))
    stats.write.parquet(s"$base/stats")
    ZoneMapRegistry.register(s"$base/tier", s"$base/stats", stats.schema)
    def t = spark.read.parquet(s"$base/tier")
    def total = t.agg(count(lit(1)).as("n"), max(col("value")).as("hi"),
      sum(col("value_q")).as("s"))
    assert(roots(total) == Seq(s"$base/stats"))
    assert(total.collect().toSeq == Seq(Row(0L, null, null)))
    assert(total.collect().toSet == fromData(total))
    def grouped = TsQuery.aggAll(t)
    assert(roots(grouped) == Seq(s"$base/stats"))
    assert(grouped.collect().isEmpty && fromData(grouped).isEmpty)
  }

  test("the registered storage_upsert query is answered from its tier's stats") {
    // the Verify and bench session shape (graft.Session.local) carries the
    // extension, so a registered query's plan is where the rule shows
    graft.operators.Materialize.scoped {
      val q = SparkEntry.queries("storage_upsert")(spark, "/root/testdata/sf0.001")
      // the full frame, and the key-only aggregate the bench's count() leaves
      for (f <- Seq(q, q.groupBy().count())) {
        val read = roots(f)
        assert(read.nonEmpty && read.forall(_.endsWith(".stats")), f.queryExecution.optimizedPlan)
      }
      assert(q.count() > 0)
    }
  }

  /** `q` reads only `tier`'s stats and gives the rows the data gives. */
  private def servedByStats(tier: String)(q: => DataFrame): Set[Row] = {
    assert(roots(q) == Seq(s"$tier.stats"), q.queryExecution.optimizedPlan)
    val got = q.collect().toSet
    assert(got.nonEmpty && got == fromData(q), q.queryExecution.optimizedPlan)
    got
  }

  /** `q` reads `tier` itself and gives the data's rows. */
  private def readsTier(tier: String)(q: => DataFrame): Unit = {
    assert(roots(q) == Seq(tier), q.queryExecution.optimizedPlan)
    assert(q.collect().toSet == fromData(q))
  }

  test("segment-aligned windows and their argmax are answered from the stats") {
    def t = spark.read.parquet(landed)
    for (w <- Seq(16L, 32L)) {
      servedByStats(landed)(TsQuery.windowMaxArgmax(t, w))
      servedByStats(landed)(TsQuery.windowMaxPositional(t, 16L, 64L, w))
      servedByStats(landed)(TsQuery.windowMaxPositional(t, 0L, Long.MaxValue, w))
    }
    // the same bounds written the other way round, and >= / < forms
    servedByStats(landed)(t.filter(lit(16L) < col("seq_no") && col("seq_no") < 49L)
      .groupBy(col("signal_id"), Readings.posWindow(col("seq_no"), 16L, 16L).as("win"))
      .agg(max(col("value")), count(lit(1))))
    servedByStats(landed)(t.filter(col("seq_no") >= 17L && lit(48L) >= col("seq_no"))
      .groupBy(Readings.posWindow(col("seq_no"), 0L, 32L).as("win")).agg(sum(col("value_q"))))
  }

  test("unaligned window starts, widths and bounds are NOT rewritten") {
    def t = spark.read.parquet(landed)
    readsTier(landed)(TsQuery.windowMaxPositional(t, 8L, 64L, 16L))
    readsTier(landed)(TsQuery.windowMaxPositional(t, 16L, 64L, 8L))
    readsTier(landed)(TsQuery.windowMaxPositional(t, 16L, 64L, 24L))
    readsTier(landed)(TsQuery.windowMaxPositional(t, 16L, 60L, 16L))
    readsTier(landed)(TsQuery.windowMaxArgmax(t, 24L))
    readsTier(landed)(TsQuery.windowMaxArgmax(t, 8L))
    readsTier(landed)(t.filter(col("seq_no") >= 16L).groupBy(col("signal_id")).agg(max(col("value"))))
  }

  test("over a one-file tier the stats still answer, and the one-split rule then drops the exchange") {
    // one signal lands as one bucket of one file, the shape the one-split
    // rule coalesces; that rule runs after the zone-map rule's fixed
    // point, so its coalesce never hides the tier from the zone map
    val r = spark.read.parquet(tierPath)
    val sig = r.agg(min(col("signal_id"))).first().getLong(0)
    val tm = new TierManager(spark, Files.createTempDirectory("graft-zonemap-one").toString)
    tm.landTier0(r.filter(col("signal_id") === sig).coalesce(1))
    def files(dir: String) = Files.walk(java.nio.file.Paths.get(dir)).toArray
      .count(_.toString.endsWith(".parquet"))
    assert(files(tm.tier0) == 1 && files(s"${tm.tier0}.stats") == 1)
    def t = spark.read.parquet(tm.tier0)
    for (q <- Seq[DataFrame => DataFrame](TsQuery.aggAll, TsQuery.windowMaxArgmax(_, 16L),
        TsQuery.lastPerSignal)) {
      servedByStats(tm.tier0)(q(t))
      val plan = q(t).queryExecution.executedPlan
      assert(collect(plan) { case e: ShuffleExchangeExec => e }.isEmpty &&
        collect(plan) { case c: CoalesceExec => c }.size == 1, plan)
    }
  }

  /** A hand-built tier: ties, nulls and partial trailing segments.
    * Signal 1 has 40 rows (segment 2 is partial) and its max 9.0 at seq
    * 16, 17 (either side of a segment boundary) and 33, and a null value
    * at seq 5; its last row is seq 40 (5.0). Signal 2 has 20 rows of 1.0
    * but 0.5 at seq 20, whose ts
    * ties seq 19's, plus a row with no seq_no at that ts. Signal 3's
    * latest row has no ts and its runner-up no value; signal 4's rows have
    * no ts at all; two rows have no signal_id.
    */
  private lazy val edge: String = {
    import spark.implicits._
    def at(m: Int) = Some(new Timestamp(1704067200000L + m * 60000L))
    val s1 = (1 to 40).map(i => (Option(1L), at(i), Option(i.toLong),
      if (i == 5) None else Some(if (Set(16, 17, 33)(i)) 9.0 else (i % 7).toDouble)))
    val s2 = (1 to 20).map(i => (Option(2L), at(math.min(i, 19)), Option(i.toLong),
      Some(if (i == 20) 0.5 else 1.0))) :+ ((Option(2L), at(19), None, Some(3.0)))
    val s3 = (1 to 5).map(i => (Option(3L), if (i == 5) None else at(i), Option(i.toLong),
      if (i == 4) None else Some(i.toDouble)))
    val s4 = (1 to 3).map(i => (Option(4L), None, Option(i.toLong), Some(i.toDouble)))
    val s0 = (1 to 2).map(i => (Option.empty[Long], at(i), Option(i.toLong), Some(i.toDouble)))
    val rows = (s1 ++ s2 ++ s3 ++ s4 ++ s0).toDF("signal_id", "ts", "seq_no", "value")
      .withColumn("value_q", graft.functions.Quantize.quantize(col("value"), 2))
    val tm = new TierManager(spark, Files.createTempDirectory("graft-zonemap-edge").toString)
    tm.landTier0(rows)
    tm.tier0
  }

  test("argmax ties: the smallest seq_no wins, across segments and in a partial one") {
    def t = spark.read.parquet(edge)
    val got = servedByStats(edge)(TsQuery.windowMaxArgmax(t, 32L))
      .map(r => (Option(r.get(0)), Option(r.get(1)), r.get(2), r.get(3), r.getLong(4)))
    assert(got.contains((Some(1L), Some(0L), 9.0, 16L, 32L)))
    assert(got.contains((Some(1L), Some(1L), 9.0, 33L, 8L)))
    assert(got.contains((Some(2L), Some(0L), 1.0, 1L, 20L)))
    assert(got.contains((Some(2L), None, 3.0, null, 1L)))
    servedByStats(edge)(TsQuery.windowMaxArgmax(t, 16L))
  }

  test("the last point per signal is answered from the stats, ties and nulls as the row_number window") {
    def t = spark.read.parquet(edge)
    val got = servedByStats(edge)(TsQuery.lastPerSignal(t))
    val w = Window.partitionBy(col("signal_id")).orderBy(col("ts").desc, col("seq_no").desc)
    val window = t.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("signal_id"), col("value").as("last_value")).collect().toSet
    assert(got == window)
    assert(got == Set(Row(1L, 5.0), Row(2L, 0.5), Row(3L, null), Row(4L, 3.0), Row(null, 2.0)))
  }

  test("a partial trailing segment is counted, not padded") {
    def t = spark.read.parquet(edge)
    val got = servedByStats(edge)(TsQuery.windowMaxPositional(t, 0L, Long.MaxValue, 16L))
    assert(got.contains(Row(1L, 2L, 9.0, 8L)) && got.contains(Row(2L, 1L, 1.0, 4L)))
    servedByStats(edge)(TsQuery.windowMaxPositional(t, 16L, 48L, 32L))
    servedByStats(edge)(TsQuery.aggAll(t))
  }

  test("filters on signal_id (=, IN, a tag join's key set) are answered from the stats") {
    def t = spark.read.parquet(landed)
    servedByStats(landed)(t.filter(col("signal_id") === 3L).agg(max(col("value")), count(lit(1))))
    servedByStats(landed)(t.filter(col("signal_id").isin(1L, 2L, 5L))
      .groupBy(col("signal_id")).agg(max(col("value"))))
    import spark.implicits._
    // more than ten keys: the optimizer turns the IN into an INSET
    val tags = (1L to 12L).map(i => (i, s"tag$i")).toDF("signal_id", "tag")
    servedByStats(landed)(TsQuery.tagJoin(TsQuery.lastPerSignal(t), tags))
    servedByStats(edge)(TsQuery.windowMaxArgmax(spark.read.parquet(edge)
      .filter(col("signal_id").isin(1L, 2L)), 16L))
  }

  test("an aggregate with no aggregate function reads the stats keys") {
    def t = spark.read.parquet(landed)
    servedByStats(landed)(t.select(col("signal_id")).distinct())
    servedByStats(landed)(t.select(col("signal_id"), Readings.segmentId(col("seq_no")).as("seg"))
      .distinct())
    // the bench sweep's count() prunes every aggregate of the inner query
    servedByStats(landed)(TsQuery.windowMaxPositional(t, 0L, Long.MaxValue, 16L).groupBy().count())
  }

  test("a stats table registered with the old schema answers neither argmax nor the last point") {
    val old = ZoneMap.segmentStats(spark.read.parquet(edge)).schema
    val (path, current) = ZoneMapRegistry.lookup(edge).get
    ZoneMapRegistry.register(edge, path, old)
    try {
      def t = spark.read.parquet(edge)
      readsTier(edge)(TsQuery.windowMaxArgmax(t, 16L))
      readsTier(edge)(TsQuery.lastPerSignal(t))
      servedByStats(edge)(TsQuery.windowMaxPositional(t, 0L, Long.MaxValue, 16L))
    } finally ZoneMapRegistry.register(edge, path, current)
  }
}
