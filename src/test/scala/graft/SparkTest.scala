package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Shared local SparkSession for specs. */
trait SparkTest extends BeforeAndAfterAll { self: Suite =>
  lazy val spark: SparkSession =
    SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.ui.enabled", "false")
      // the cluster-deployment wiring: every suite runs through the
      // extensions path (functions + zone-map rule + as-of strategy),
      // exactly as a 1000-executor session would (ExtensionsSpec asserts
      // the injections took)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()

  /** The work counters (jobs, tasks, input records, ...) of running `f`. */
  def counters(f: => Unit): Map[String, Long] = {
    val l = new Work.Listener
    spark.sparkContext.addSparkListener(l)
    try Work.measure(spark, l)(f).counters
    finally spark.sparkContext.removeSparkListener(l)
  }

  override def afterAll(): Unit = {
    // shared across suites in one forked JVM; do not stop
    super.afterAll()
  }
}
