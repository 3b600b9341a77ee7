package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import graft.operators.{Readings, TierManager, TsQuery}
import graft.plans.{ZoneMap, ZoneMapRegistry, ZoneMapRewrite}

/** O8 — the zone-map optimizer rule: count/min/max/sum over a registered
  * tier, ungrouped or grouped by `signal_id`, must be answered from the
  * stats table, with identical results.
  */
class ZoneMapRuleSpec extends AnyFunSuite with SparkTest {

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
    ZoneMapRegistry.register(tierPath, statsPath, statsSchema)
    val filtered = spark.read.parquet(tierPath)
      .filter(col("signal_id") === 1).agg(max(col("value")))
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

  /** `q` answered from the data: built and optimized without the rule. */
  private def fromData(q: => DataFrame): Set[Row] = {
    val key = "spark.sql.optimizer.excludedRules"
    spark.conf.set(key, classOf[ZoneMapRewrite].getName)
    try {
      val d = q
      assert(!roots(d).exists(_.endsWith("stats")), "the rule was not excluded")
      d.collect().toSet
    } finally spark.conf.unset(key)
  }

  /** The root paths of the scans in `q`'s optimized plan. */
  private def roots(q: DataFrame): Seq[String] =
    q.queryExecution.optimizedPlan.collectLeaves().flatMap {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toUri.getPath)
        case _ => Nil
      }
      case _ => Nil
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
      val read = roots(q)
      assert(read.nonEmpty && read.forall(_.endsWith(".stats")), q.queryExecution.optimizedPlan)
      assert(q.count() > 0)
    }
  }
}
