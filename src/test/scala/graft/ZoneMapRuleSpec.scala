package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Readings
import graft.plans.{ZoneMap, ZoneMapRegistry}

/** O8 — the zone-map optimizer rule: grand-total max/min over a registered
  * tier must be answered from the stats table, with identical results.
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
    val direct = spark.read.parquet(tierPath)
      .agg(max(col("value")), min(col("value"))).collect()(0)
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
    val direct = spark.read.parquet(tierPath)
      .agg(sum(col("value_q"))).collect()(0).getLong(0)
    assert(viaRule == direct, "stats-served sum diverges from data sum")
  }

  test("filtered or grouped aggregates are NOT rewritten") {
    ZoneMapRegistry.register(tierPath, statsPath, statsSchema)
    val filtered = spark.read.parquet(tierPath)
      .filter(col("signal_id") === 1).agg(max(col("value")))
    assert(filtered.queryExecution.executedPlan.toString.contains(tierPath))
    val grouped = spark.read.parquet(tierPath)
      .groupBy(col("signal_id")).agg(max(col("value")))
    assert(grouped.queryExecution.executedPlan.toString.contains(tierPath))
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
}
