package graft

import org.apache.spark.sql.SparkSession

/** The one local session shape of every entry point (`Bench`, `Verify`,
  * `ExplainMain` and the test suites): `cpus` cores and as many shuffle
  * partitions, UTC, no UI, and the deployment's extensions
  * (`graft.GraftExtensions`: the native functions by name, the zone-map
  * and one-split rules and the as-of strategy). `conf` adds settings or
  * overrides these.
  */
object Session {
  def local(cpus: Int, conf: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    quietCheckpointRelease()
    spark
  }

  /** Silences the WARN `RDD.unpersist` logs for every local checkpoint
    * (a `MapPartitionsRDD`, logging under its own class name): each
    * [[operators.Materialize]] scope releases its checkpoints on exit,
    * which is their intended end, not a lost lineage.
    */
  def quietCheckpointRelease(): Unit =
    org.apache.logging.log4j.core.config.Configurator
      .setLevel("org.apache.spark.rdd.MapPartitionsRDD", org.apache.logging.log4j.Level.ERROR)
}
