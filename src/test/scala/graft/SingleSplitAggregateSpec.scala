package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Repartition}
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** O9 — an aggregate over a one-split file input, through projections
  * and filters only, plans no exchange and runs as one job, with the
  * results of the same rows written as two files; any other input or
  * shape keeps its exchange.
  */
class SingleSplitAggregateSpec extends AnyFunSuite with SparkTest with AdaptiveSparkPlanHelper {

  private lazy val (oneFile, twoFiles) = {
    val base = Files.createTempDirectory("graft-one-split").toString
    val rows = spark.range(0, 2000).select(
      (col("id") % 7).as("k"), col("id").as("seq"), ((col("id") * 37) % 101).cast("double").as("v"))
    rows.coalesce(1).write.parquet(s"$base/one")
    rows.repartition(2).write.parquet(s"$base/two")
    (s"$base/one", s"$base/two")
  }

  private def exchanges(p: SparkPlan) = collect(p) { case e: ShuffleExchangeExec => e }
  private def coalesces(p: SparkPlan) = collect(p) { case c: CoalesceExec => c }
  private def placed(p: LogicalPlan) = p.collect { case r @ Repartition(1, false, _) => r }
  private def sorted(df: DataFrame) = cells(df).map(_.mkString("|")).sorted

  private val shapes: Seq[(String, DataFrame => DataFrame)] = Seq(
    "aggregate" -> (_.agg(count(lit(1)), sum("v"), max("v"))),
    "grouped aggregate" -> (_.groupBy("k").agg(sum("v"), min("seq"))),
    "aggregate over a filter and a projection" -> (_.filter(col("seq") % 3 =!= 0)
      .select(col("k"), (col("v") * 2).as("w")).groupBy("k").agg(max("w"), count(lit(1)))))

  test("an aggregate over one split plans no exchange and runs as one job") {
    for ((what, shape) <- shapes) {
      val q = shape(spark.read.parquet(oneFile))
      val plan = q.queryExecution.executedPlan
      assert(exchanges(plan).isEmpty, s"$what: exchanges left\n$plan")
      assert(counters(q.collect())("jobs") == 1L, what)
      val two = shape(spark.read.parquet(twoFiles))
      assert(exchanges(two.queryExecution.executedPlan).nonEmpty, s"$what: two files must shuffle")
      assert(sorted(q) == sorted(two), what)
    }
  }

  test("exactly one coalesce under each aggregate the rule touched, stable under the optimizer") {
    for ((what, shape) <- shapes) {
      val q = shape(spark.read.parquet(oneFile))
      val optimized = q.queryExecution.optimizedPlan
      assert(placed(optimized).size == 1, s"$what:\n$optimized")
      assert(coalesces(q.queryExecution.executedPlan).size == 1, what)
      assert(placed(spark.sessionState.optimizer.execute(optimized)).size == 1, s"$what: not stable")
    }
  }

  /** `q` keeps its exchange and gets no coalesce, with the rows `expected`. */
  private def keepsExchange(what: String, q: DataFrame, expected: DataFrame): Unit = {
    val plan = q.queryExecution.executedPlan
    assert(exchanges(plan).nonEmpty, s"$what: no exchange\n$plan")
    assert(coalesces(plan).isEmpty && placed(q.queryExecution.optimizedPlan).isEmpty, s"$what\n$plan")
    assert(sorted(q) == sorted(expected), what)
  }

  test("two files, a file over one split, a repartition and a join side keep their exchange") {
    val byKey = (df: DataFrame) => df.groupBy("k").agg(sum("v"), count(lit(1)))
    val one = spark.read.parquet(oneFile)
    keepsExchange("two files", byKey(spark.read.parquet(twoFiles)), byKey(one))
    val len = new java.io.File(oneFile).listFiles().filter(_.getName.endsWith(".parquet")).head.length
    withConf("spark.sql.files.maxPartitionBytes" -> (len / 2 + 1).toString) {
      val q = byKey(spark.read.parquet(oneFile))
      val scans = collect(q.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
      assert(scans.map(_.inputRDD.getNumPartitions) == Seq(2), "the file reads as two splits")
      keepsExchange("over one split", q, byKey(spark.read.parquet(twoFiles)))
    }
    keepsExchange("repartition(4)", byKey(one.repartition(4)), byKey(one))
    val dims = spark.read.parquet(twoFiles).select("k").distinct()
    keepsExchange("join side", byKey(one.join(dims, "k")), byKey(one))
  }

  test("a window, and an aggregate over a window or a generator, keep their exchange") {
    val window = (df: DataFrame) => df.withColumn("r",
      row_number().over(Window.partitionBy("k").orderBy(desc("v"), col("seq"))))
    // the percentile-from-histogram shape: window, explode, filter, group
    val overWindow = (df: DataFrame) => df.select(col("k"), col("v"),
        sum("v").over(Window.partitionBy("k").orderBy("seq")).as("cume"))
      .withColumn("p", explode(array(lit(1), lit(2))))
      .filter(col("cume") % col("p") === 0)
      .groupBy("k", "p").agg(max("v"), count(lit(1)))
    val overGenerator = (df: DataFrame) => df
      .withColumn("p", explode(array(lit(1), lit(2), lit(3))))
      .groupBy("k", "p").agg(sum("v"))
    for ((what, shape) <- Seq("window" -> window, "aggregate over a window" -> overWindow,
        "aggregate over a generator" -> overGenerator))
      keepsExchange(what, shape(spark.read.parquet(oneFile)), shape(spark.read.parquet(twoFiles)))
  }

  test("a streaming aggregate keeps its exchange") {
    val q = spark.readStream.schema(spark.read.parquet(oneFile).schema).parquet(oneFile)
      .groupBy("k").agg(sum("v").as("s"))
      .writeStream.outputMode("complete").format("memory").queryName("one_split_stream")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
    assert(exchanges(plan).nonEmpty && coalesces(plan).isEmpty, s"$plan")
    val batch = spark.read.parquet(oneFile).groupBy("k").agg(sum("v").as("s"))
    assert(sorted(spark.table("one_split_stream")) == sorted(batch))
  }
}
