package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Shared local SparkSession for specs. */
trait SparkTest extends BeforeAndAfterAll { self: Suite =>
  // the deployment shape (Session.local): every suite runs through the
  // extensions path (functions + zone-map and one-split rules + as-of
  // strategy), exactly as a 1000-executor session would (ExtensionsSpec
  // asserts the injections took)
  lazy val spark: SparkSession = Session.local(4,
    "spark.app.name" -> "graft-test",
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)

  /** The work counters (jobs, tasks, input records, ...) of running `f`. */
  def counters(f: => Unit): Map[String, Long] = {
    val l = new Work.Listener
    spark.sparkContext.addSparkListener(l)
    try Work.measure(spark, l)(f).counters
    finally spark.sparkContext.removeSparkListener(l)
  }

  /** The rows of `df`, binary cells as byte sequences so rows compare by
    * value.
    */
  def cells(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq.map {
    case b: Array[Byte] => b.toSeq
    case x => x
  })

  /** `f` run with the session settings `kv`, each restored afterwards. */
  def withConf[T](kv: (String, String)*)(f: => T): T = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** [[cells]] of `df` under the default codegen, then with whole-stage
    * codegen off and expressions interpreted (each run plans `df` anew).
    */
  def generatedAndInterpreted(df: => DataFrame): (Seq[Seq[Any]], Seq[Seq[Any]]) = {
    val generated = cells(df)
    (generated, withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(cells(df)))
  }

  /** `q` answered from the data: built and optimized without the
    * zone-map rule.
    */
  def fromData(q: => DataFrame): Set[Row] =
    withConf("spark.sql.optimizer.excludedRules" -> classOf[graft.plans.ZoneMapRewrite].getName) {
      val d = q
      assert(!roots(d).exists(_.endsWith("stats")), "the rule was not excluded")
      d.collect().toSet
    }

  /** The root paths of the scans in `q`'s optimized plan. */
  def roots(q: DataFrame): Seq[String] =
    q.queryExecution.optimizedPlan.collectLeaves().flatMap {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toUri.getPath)
        case _ => Nil
      }
      case _ => Nil
    }

  override def afterAll(): Unit = {
    // shared across suites in one forked JVM; do not stop
    super.afterAll()
  }
}
