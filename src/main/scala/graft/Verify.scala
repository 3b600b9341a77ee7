package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import graft.operators.Materialize
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the deployment shape: native functions, the zone-map rule and the
      // as-of strategy are live, as in every session of the cluster
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Bench.quietCheckpointRelease()
    new java.io.File(outDir).mkdirs()
    // local-iteration filter (the driver never sets it): run only the
    // named queries, e.g. SPARK_GRAFT_VERIFY_ONLY=seg_knn_dtw,ts_ohlc
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None => SparkEntry.queries
    }
    // count-only mode (local scale measurements: output-growth accounting
    // without dumping multi-million-row results through coalesce(1))
    val countOnly = sys.env.get("SPARK_GRAFT_VERIFY_COUNT").contains("1")
    // each query owns what it materializes: its scope releases it once the
    // dump is written
    selected.foreach { case (name, fn) =>
      try Materialize.scoped {
        if (countOnly) println(s"[count] $name ${fn(spark, sfDir).count()}")
        else fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val invJson = SparkEntry.scaleInvariants
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/scale_invariants.json"), invJson)
    spark.stop()
  }
}
