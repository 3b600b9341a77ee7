package graft

/** Plan-capture tool for the optimization rounds: prints the FORMATTED
  * physical plan of each named declared query to `<outDir>/<name>_<tag>.txt`
  * (the judge checks plan claims against these files; it cannot run Spark).
  *
  * Usage: graft.ExplainMain <sfDir> <outDir> <tag> <query>[,<query>...]
  * Query names are `SparkEntry.queries` keys; `all` dumps every declared
  * query. Plans are captured BEFORE the query's own action
  * (AdaptiveSparkPlan isFinalPlan=false) — the shape facts quoted in
  * OPTIMIZATION_r*.md (Exchange count, join strategy,
  * PushedFilters/ReadSchema) are static plan properties. NOTE: building
  * a query is not free of execution — operators that eagerly
  * localCheckpoint a shared intermediate (or .head() a bounded scalar,
  * e.g. codebook collects) run real Spark jobs at construction, so
  * `all` can take minutes, and checkpointed subtrees appear in the
  * captured plan as `Scan ExistingRDD` leaves in place of the
  * materialized upstream pipeline.
  */
object ExplainMain {
  def main(args: Array[String]): Unit = {
    if (args.length < 4) {
      System.err.println(
        "usage: graft.ExplainMain <sfDir> <outDir> <tag> <query>[,<query>...]|all")
      sys.exit(2)
    }
    if (args.length > 4)
      System.err.println(
        s"[explain] ignoring extra args: ${args.drop(4).mkString(" ")}")
    val Array(sfDir, outDir, tag, sel) = args.take(4)
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val names =
      if (sel == "all") SparkEntry.queries.keys.toSeq.sorted
      else sel.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (n <- names) SparkEntry.queries.get(n) match {
      case Some(fn) =>
        val out = java.nio.file.Paths.get(outDir, s"${n}_$tag.txt")
        try {
          // queryExecution.explainString == df.explain("formatted"), as a
          // value instead of a stdout side effect
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(out,
            txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          System.err.println(s"[explain] wrote $out")
        } catch { case e: Throwable =>
          System.err.println(s"[explain] $n failed: $e")
        }
      case None => System.err.println(s"[explain] unknown query: $n")
    }
    spark.stop()
  }
}
