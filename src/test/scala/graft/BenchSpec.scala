package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Materialize

/** The bench's regression check: each row's counters and CPU time are
  * compared against a prior taken under the same key. The injected
  * regressions below are the ones the wall-clock gate existed to catch —
  * an extra exchange, a dropped broadcast and an expression slowdown past
  * the trip line — each measured by the bench's own listener on a real
  * action, so the check is shown to catch them without wall-clock noise.
  * A rep that leaves storage behind (an unowned materialization) fails.
  */
class BenchSpec extends AnyFunSuite with SparkTest {

  private lazy val facts: DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft-bench-spec").toString
    spark.range(0, 200000, 1, 4)
      .select((col("id") % 100).as("k"), col("id").as("v"))
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }
  private lazy val dims: DataFrame =
    spark.range(0, 100).select(col("id").as("k"), (col("id") * 2).as("w"))

  /** Three measured reps of `f` after one warm run, as the bench keeps them. */
  private def measured(f: => Unit): Bench.Row = {
    val l = new Work.Listener
    spark.sparkContext.addSparkListener(l)
    try {
      f
      Bench.row((1 to 3).map(_ => Work.measure(spark, l)(f)))
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def withConf[T](k: String, v: String)(f: => T): T = {
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try f finally prev.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  private def agg: Unit = { facts.groupBy("k").agg(sum("v")).count(); () }
  private def join: Unit = { facts.join(dims, "k").agg(sum("w")).count(); () }

  test("an unchanged query repeats its counters and is not flagged") {
    val prior = measured(agg)
    val cur = measured(agg)
    assert(Bench.Gated.forall(prior.counters.contains), prior)
    assert(Bench.moves(cur, prior).isEmpty)
  }

  test("an injected extra exchange is flagged on its counters") {
    val prior = measured(agg)
    val cur = measured { facts.repartition(8).groupBy("k").agg(sum("v")).count(); () }
    val flags = Bench.moves(cur, prior)
    assert(flags.exists(_.what == "stages"), flags)
    assert(flags.exists(_.what == "tasks"), flags)
    assert(flags.forall(_.rose), flags)
  }

  test("a removed exchange is flagged as a fall, not as a regression") {
    val prior = measured { facts.repartition(8).groupBy("k").agg(sum("v")).count(); () }
    val cur = measured(agg)
    val flags = Bench.moves(cur, prior)
    assert(flags.exists(_.what == "stages") && flags.exists(_.what == "tasks"), flags)
    assert(flags.forall(f => !f.rose && f.toString.endsWith(" fell")), flags)
  }

  test("a dropped broadcast is flagged on its counters") {
    val prior = measured(join)
    val cur = withConf("spark.sql.autoBroadcastJoinThreshold", "-1")(measured(join))
    assert(Bench.moves(prior, measured(join)).isEmpty)
    val flags = Bench.moves(cur, prior)
    assert(flags.exists(_.what == "stages"), flags)
  }

  test("an expression slowdown past the trip line is flagged on CPU time alone") {
    // the same plan with a costlier per-row expression: no counter moves,
    // so only the CPU line (2 x prior + 0.25 s) can catch it
    val spin = udf { (v: Long) =>
      var x = v
      var i = 0
      while (i < 20000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
      x
    }
    val prior = measured { facts.select(max(col("v") + 1)).collect(); () }
    val cur = measured { facts.select(max(spin(col("v")))).collect(); () }
    assert(cur.cpuS > 2 * prior.cpuS + 0.25, (cur, prior))
    val flags = Bench.moves(cur, prior)
    assert(flags.nonEmpty && flags.forall(f => f.what == "cpu_s" && f.rose), flags)
  }

  test("a row that leaves storage behind fails its rep") {
    val l = new Work.Listener
    spark.sparkContext.addSparkListener(l)
    try {
      // suites share this session, so storage may be held before the
      // first rep: each rep reports only what it added. Start with no
      // cached plan, so the raw persist() below is named as one
      spark.sharedState.cacheManager.clearCache()
      val start = Materialize.stored(spark)
      val owned = Bench.rep(spark, l) {
        Materialize.checkpoint(facts.groupBy("k").agg(sum("v"))).count(); ()
      }
      assert(owned.work.isRight && owned.leak.isEmpty, owned)
      // a raw persist() has no owner: the rep runs, and then trips the check
      var raw: DataFrame = null
      val leaky = Bench.rep(spark, l) {
        raw = facts.groupBy("k").agg(sum("v")).persist()
        raw.count(); ()
      }
      assert(leaky.work.isRight, leaky)
      assert(leaky.leak.exists(m => m.contains("cached plans") && m.contains("persisted RDD")),
        leaky.leak)
      // the leak fails only the rep that made it, not the next one
      val next = Bench.rep(spark, l) {
        Materialize.checkpoint(facts.groupBy("k").agg(max("v"))).count(); ()
      }
      assert(next.work.isRight && next.leak.isEmpty, next)
      raw.unpersist(blocking = true)
      assert(start.added(Materialize.stored(spark)).isEmpty)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def file(json: String): String = {
    val f = java.nio.file.Files.createTempFile("graft-bench-store", ".json")
    java.nio.file.Files.write(f, json.getBytes("UTF-8"))
    f.toFile.deleteOnExit()
    f.toString
  }
  private def storeWith(entries: String*): String =
    file(entries.mkString("""{"entries":[""", ",", "]}"))
  private val k4 = Bench.Key("/data/sf0.1", 4, 4, "count", "graft.GraftExtensions")
  private def entry(key: Bench.Key, t: Double): String =
    s"""{"key":"$key","queries":{"q":{"t":$t,"cpu_s":0.5,""" +
      """"work":{"jobs":3,"tasks":12}},"bad":{"err":"x"}}}"""

  test("artifacts without canary fields load raw (pre-r15 behavior)") {
    // what an entry records is the prior, unscaled; a host-factor field
    // left in an entry by an older bench is ignored, not applied
    val want = Map("q" -> Bench.Row(1.0, 0.5, Map("jobs" -> 3L, "tasks" -> 12L)))
    assert(Bench.loadPrior(storeWith(entry(k4, 1.0)), k4) == want)
    val withCanary = entry(k4, 1.0).replace("\"key\"", "\"sweep_canary_ratio\":1.65,\"key\"")
      .replace("\"t\":", "\"resweep\":0.5,\"resweep_mode\":\"fork\",\"t\":")
    assert(withCanary.contains("sweep_canary_ratio") && withCanary.contains("resweep"))
    assert(Bench.loadPrior(storeWith(withCanary), k4) == want)
  }

  test("sf mismatch and unreadable files yield no priors") {
    val path = storeWith(entry(k4, 1.0))
    assert(Bench.loadPrior(path, k4.copy(sf = "/data/sf1")).isEmpty)
    assert(Bench.loadPrior("/nonexistent/path.json", k4).isEmpty)
    assert(Bench.loadPrior(file("not json {"), k4).isEmpty)
  }

  test("cpus, shuffle partition and action mismatches and pre-key files yield no priors") {
    val path = storeWith(entry(k4, 1.0))
    for (other <- Seq(k4.copy(cpus = 8), k4.copy(shufflePartitions = 8),
        k4.copy(action = "noop")))
      assert(Bench.loadPrior(path, other).isEmpty, other)
    val preKey = file("""{"sf":"/data/sf0.1","queries":{"q":{"t":1.0}}}""")
    assert(Bench.loadPrior(preKey, k4).isEmpty)
  }

  test("an extensions mismatch, or an entry keyed before extensions, yields no priors") {
    val path = storeWith(entry(k4, 1.0))
    assert(Bench.loadPrior(path, k4.copy(extensions = "none")).isEmpty)
    val beforeExtensions = entry(k4, 1.0)
      .replace(s"$k4", "sf=/data/sf0.1 cpus=4 shuffle_partitions=4 action=count")
    assert(!beforeExtensions.contains("extensions"))
    assert(Bench.loadPrior(storeWith(beforeExtensions), k4).isEmpty)
  }

  test("a full sweep replaces only its own key's entry; an ONLY run never replaces") {
    val k8 = k4.copy(cpus = 8)
    val store = Bench.entries(storeWith(entry(k4, 1.0), entry(k8, 2.0)))
    def t(es: Seq[com.fasterxml.jackson.databind.JsonNode], k: Bench.Key) =
      es.filter(_.path("key").asText == k.toString)
        .map(_.path("queries").path("q").path("t").asDouble)
    val swept = Bench.merge(store, entry(k4, 3.0), fullSweep = true)
    assert(t(swept, k4) == Seq(3.0) && t(swept, k8) == Seq(2.0))
    assert(t(Bench.merge(store, entry(k4, 3.0), fullSweep = false), k4) == Seq(1.0))
    val k16 = k4.copy(cpus = 16)
    assert(t(Bench.merge(store, entry(k16, 5.0), fullSweep = false), k16) == Seq(5.0))
  }
}
