package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The cluster-deployment wiring: the shared test session is built with
  * `spark.sql.extensions=graft.GraftExtensions` (the config every executor
  * of a 1000-node cluster would carry — see SparkTest); this spec asserts
  * the injections actually took: native vector functions resolve in pure
  * SQL and the injected planner strategy alone plans the native as-of join.
  */
class ExtensionsSpec extends AnyFunSuite with SparkTest
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {

  test("injected functions resolve by name in pure SQL") {
    // a fresh session re-applies the extensions to a NEW function
    // registry — resolution by name can only come from the injection
    val s2 = spark.newSession()
    val row = s2.sql(
      """SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
        |       graft_sqdist(array(0.0d, 0.0d), array(3.0d, 4.0d)) AS sq,
        |       graft_quantize(array(1.26d, -0.5d), 64.0d) AS q
        |""".stripMargin).collect()(0)
    assert(row.getDouble(0) == 11.0 && row.getDouble(1) == 25.0)
    assert(row.getSeq[Double](2) == Seq(80.0, -32.0))
  }

  test("injected planner strategy plans the native as-of join on its own") {
    import spark.implicits._
    val left = Seq((1L, 10L), (1L, 20L)).toDF("k", "t")
    val right = Seq((1L, 5L, "a"), (1L, 15L, "b")).toDF("k", "rt", "v")
    // build the plan, then strip the programmatic experimental
    // registration BEFORE planning, so only the extensions-injected
    // strategy can plan AsOfJoinPlan
    val joined = graft.plans.NativeAsOf.asofJoin(left, right, "k", "t", "rt", Seq("v"))
    val saved = spark.experimental.extraStrategies
    try {
      spark.experimental.extraStrategies = Seq()
      val execs = collect(joined.queryExecution.executedPlan) {
        case e: graft.plans.AsOfJoinExec => e
      }
      assert(execs.nonEmpty, "native AsOfJoinExec not planned via extensions")
      val out = joined.orderBy(col("t")).collect().map(_.getString(2))
      assert(out.toSeq == Seq("a", "b"))
    } finally spark.experimental.extraStrategies = saved
  }
}
