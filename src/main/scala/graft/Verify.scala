package graft
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.operators.Materialize
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
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
    // Jackson escapes quotes, backslashes and every control char, so a
    // tab or CR in an oracle's SQL still loads as JSON
    def json(name: String, m: Map[String, String]): Unit =
      Files.writeString(Paths.get(s"$outDir/$name"), Bench.mapper.writeValueAsString(m.asJava))
    json("oracle_sql.json", SparkEntry.oracleSql)
    json("scale_invariants.json", SparkEntry.scaleInvariants)
    spark.stop()
  }
}
