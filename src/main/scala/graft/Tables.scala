package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  * At cluster scale these would be catalog tables partitioned by key/time;
  * here they are single parquet files per table under the sf dir.
  */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** events.ts has shipped in two parquet generations: TIMESTAMP(NANOS)
    * (which Spark's vectorized reader rejects — read nanos as long and
    * rebuild a micros timestamp with integer division) and
    * TIMESTAMP(MICROS) with isAdjustedToUTC=0 (read as TIMESTAMP_NTZ).
    * Branch on the loaded type so either generation resolves; session TZ is
    * UTC everywhere so the NTZ→TZ cast is value-preserving.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeTs(readEvents(spark, s"$dir/events.parquet"))

  /** The raw events-shaped parquet at `path`, `ts` as stored: nanos as a
    * long, or a micros timestamp. The caller's session conf is not touched.
    */
  def readEvents(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(eventsSchema(spark, path)).parquet(path)

  /** The schema of the events-shaped parquet at `path`, with a nanos `ts`
    * as a long. Only schema inference needs `nanosAsLong`; it runs in a
    * new session (isolated SQL conf, same context), and a read with the
    * returned schema then needs no conf at all.
    */
  def eventsSchema(spark: SparkSession, path: String): StructType = {
    val iso = spark.newSession()
    iso.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    iso.read.parquet(path).schema
  }

  /** Normalize an events-shaped frame's `ts` column to TimestampType
    * regardless of which physical type the parquet files carried.
    */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType =>  // nanos read as long
        df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case TimestampNTZType | TimestampType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case other =>
        throw new IllegalStateException(
          s"events.ts loaded as unsupported type $other — testdata schema drifted; " +
          "extend Tables.normalizeTs for the new physical type")
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
  def customer(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "customer")
  def orders(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "lineitem")
}
