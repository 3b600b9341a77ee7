package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The cluster-deployment wiring: the shared test session is built with
  * `spark.sql.extensions=graft.GraftExtensions` (the config every executor
  * of a 1000-node cluster would carry — see SparkTest); this spec asserts
  * the injections actually took: native vector functions resolve in pure
  * SQL, the injected planner strategy alone plans the native as-of join,
  * and the injected one-split rule drops a tiny aggregate's exchange.
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

  test("injected optimizer rule aggregates a one-split input without an exchange") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ext-one").toString + "/t"
    spark.range(0, 100).coalesce(1).write.parquet(dir)
    // a fresh session: the rule can only come from the injection, and
    // excluding it by name brings the exchange back
    val s2 = spark.newSession()
    def exchanges(): Int = collect(s2.read.parquet(dir).groupBy((col("id") % 3).as("k")).count()
      .queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }.size
    assert(exchanges() == 0)
    s2.conf.set("spark.sql.optimizer.excludedRules", classOf[graft.plans.SingleSplitAggregate].getName)
    assert(exchanges() == 1)
    // a pre-CBO rule, run once after the fixed point the zone-map rule is in
    val opt = s2.sessionState.optimizer
    def named(rules: Seq[_]) = rules.exists(_.isInstanceOf[graft.plans.SingleSplitAggregate])
    assert(named(opt.preCBORules) && !named(opt.extendedOperatorOptimizationRules))
  }

  test("each injected function resolves by name and equals its Column builder") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.GraftSqlBridge.{column, expression}
    import graft.functions.{VecQuantize, VectorFunctions}
    import graft.functions.CodecFunctions._
    import graft.operators.Similarity
    val s2 = spark.newSession()
    val in = s2.createDataFrame(Seq((Seq(1.5, -2.25, 9.0, 9.0), Seq(3L, -1L, 40L, 40L), "key")))
      .toDF("v", "q", "k")
    val (v, q) = (col("v"), col("q"))
    val cases: Seq[(String, Column)] = Seq(
      "graft_dot(v, v)" -> Similarity.dot(v, v),
      "graft_sqdist(v, v)" -> Similarity.sqDist(v, v),
      "graft_quantize(v, 64.0D)" -> column(VecQuantize(expression(v), expression(lit(64.0)))),
      "graft_fnv32(k, 7L)" -> VectorFunctions.fnv32(col("k"), lit(7L)),
      "graft_gorilla_encode(v)" -> gorillaEncode(v),
      "graft_gorilla_decode(graft_gorilla_encode(v))" -> gorillaDecode(gorillaEncode(v)),
      "graft_gorilla_max(graft_gorilla_encode(v))" -> gorillaMax(gorillaEncode(v)),
      "graft_sprintz_encode(q)" -> sprintzEncode(q),
      "graft_sprintz_decode(graft_sprintz_encode(q))" -> sprintzDecode(sprintzEncode(q)),
      "graft_sprintz_sum(graft_sprintz_encode(q))" -> sprintzSum(sprintzEncode(q)),
      "graft_fcm_encode(q)" -> fcmEncode(q),
      "graft_fcm_decode(graft_fcm_encode(q))" -> fcmDecode(fcmEncode(q)),
      "graft_fcm_sum(graft_fcm_encode(q))" -> fcmSum(fcmEncode(q)),
      "graft_fcm_max(graft_fcm_encode(q))" -> fcmMax(fcmEncode(q)),
      "graft_bp_encode(q)" -> bpEncode(q),
      "graft_bp_decode(graft_bp_encode(q))" -> bpDecode(bpEncode(q)),
      "graft_bp_sum(graft_bp_encode(q))" -> bpSum(bpEncode(q)),
      "graft_bp_max(graft_bp_encode(q))" -> bpMax(bpEncode(q)))
    // the cases cover exactly the names the session registry holds
    val injected = s2.catalog.listFunctions().collect().map(_.name).filter(_.startsWith("graft_"))
    assert(injected.length == 18)
    assert(cases.map(_._1.takeWhile(_ != '(')).toSet == injected.toSet)
    for ((sql, builder) <- cases) {
      val bySql = in.selectExpr(sql)
      val byBuilder = in.select(builder)
      assert(cells(bySql) == cells(byBuilder), sql)
      assert(bySql.columns.toSeq == byBuilder.columns.toSeq, sql)
    }
  }

  test("a wrong-type call fails analysis naming the function") {
    val s2 = spark.newSession()
    for ((call, msg) <- Seq(
        "graft_sprintz_encode(array(1, 2, 3))" ->
          "graft_sprintz_encode requires array<bigint>, got array<int>",
        "graft_gorilla_decode('x')" -> "graft_gorilla_decode requires binary, got string")) {
      val e = intercept[org.apache.spark.sql.AnalysisException](s2.sql(s"SELECT $call").collect())
      assert(e.getMessage.contains(msg), e.getMessage)
    }
  }
}
