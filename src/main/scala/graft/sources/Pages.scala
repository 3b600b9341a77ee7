package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.column.statistics.IntStatistics
import org.apache.parquet.hadoop.{Footer, ParquetFileReader, ParquetOutputFormat}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, ExprId}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** The page layout of every readings-shaped store: the tiers
  * (`Tiers.writeTier`), the tier-0 landing (`Ingest.tier0Writer`) and the
  * BUFF planes (`BuffStore.write`).
  *
  * Parquet's column index (the per-page min/max its writer records in the
  * footer) is this store's per-segment zone map: the reference keeps
  * min/max stats per fixed-size segment (`buffer_pool.rs` AggStats) and its
  * progressive filter skips every segment they rule out
  * (`buff_simd.rs:4507`). Spark's Parquet reader filters pages on that
  * index with every pushed predicate, so capping pages at [[Rows]] rows
  * lets a selective read skip 1,024-row runs of a file instead of only
  * whole files (one row group of one page per column at the writer's
  * defaults for a 4,096-row signal). Rows stay in the order they are
  * written, `(signal_id, seq_no)` for the readings stores. Row groups keep
  * their default size.
  *
  * The footers are read before the rows: [[footerSchema]] and
  * [[footerMaxInt]] answer from a store's own metadata in the calling JVM,
  * without a Spark job.
  */
object Pages {

  /** Rows per page: the reference's 1,000-row segment rounded to a power
    * of two, so a 4,096-row signal file splits into whole pages.
    */
  val Rows = 1024

  /** Writer options that cap every page of the written files at [[Rows]]. */
  val WriterOptions: Map[String, String] =
    Map(ParquetOutputFormat.PAGE_ROW_COUNT_LIMIT -> Rows.toString)

  private def footer(spark: SparkSession, file: Path): ParquetMetadata = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(file, spark.sessionState.newHadoopConf()))
    try reader.getFooter finally reader.close()
  }

  /** The Spark schema of the first data file under `path` in path order,
    * converted as Spark's own inference converts it: the footer Spark
    * reads when the store has no summary file, without its job. None if
    * `path` is missing or holds no data file. Names starting with `_` or
    * `.` are not data, as in Spark's listing.
    */
  def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def data(name: String) =
      !(name.startsWith("_") && !name.contains("=")) && !name.startsWith(".")
    def leaves(p: Path): Seq[Path] =
      fs.listStatus(p).toSeq.filter(s => data(s.getPath.getName)).flatMap(s =>
        if (s.isDirectory) leaves(s.getPath) else Seq(s.getPath))
    if (!fs.exists(root)) None
    else leaves(root).sortBy(_.toString).headOption.map { f =>
      ParquetFileFormat.readSchemaFromFooter(new Footer(f, footer(spark, f)),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    }
  }

  /** The largest value of the int32 `column` over `files`, from the
    * row-group statistics in their footers. None if a non-empty row group
    * has no statistics for it, or no row group holds a non-null value.
    */
  def footerMaxInt(spark: SparkSession, files: Seq[String], column: String): Option[Int] = {
    val stats = files.flatMap(f => footer(spark, new Path(f)).getBlocks.asScala)
      .filter(_.getRowCount > 0).map { b =>
        b.getColumns.asScala.find(_.getPath.toDotString == column).map(_.getStatistics) match {
          case Some(s: IntStatistics) if !s.isEmpty => Some(s)
          case _ => None
        }
      }
    if (stats.exists(_.isEmpty)) None
    else stats.flatten.filter(_.hasNonNullValue).map(_.getMax).maxOption
  }
}

/** A bare scan: plain column selections, with no filter and no computed
  * column, over one Parquet [[HadoopFsRelation]]. `source` names the
  * relation column each output attribute reads.
  */
final case class BareScan(relation: HadoopFsRelation, source: Map[ExprId, String]) {
  def column(a: Attribute): Option[String] = source.get(a.exprId)
}

object BareScan {
  def unapply(plan: LogicalPlan): Option[BareScan] = plan match {
    case Project(projectList, BareScan(scan)) =>
      val renamed = projectList.map {
        case a: AttributeReference => scan.source.get(a.exprId).map(a.exprId -> _)
        case al @ Alias(a: AttributeReference, _) => scan.source.get(a.exprId).map(al.exprId -> _)
        case _ => None
      }
      if (renamed.forall(_.isDefined)) Some(scan.copy(source = renamed.flatten.toMap)) else None
    case SubqueryAlias(_, BareScan(scan)) => Some(scan)
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation if fs.fileFormat.isInstanceOf[ParquetFileFormat] =>
        Some(BareScan(fs, lr.output.map(a => a.exprId -> a.name).toMap))
      case _ => None
    }
    case _ => None
  }
}
