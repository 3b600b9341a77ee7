package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Schema-drift canary: the driver regenerates the testdata between rounds
  * and has already flipped events.ts between TIMESTAMP(NANOS) and
  * TIMESTAMP(MICROS). If the physical type drifts again, THIS spec fails
  * with one clear message instead of 37 downstream DATATYPE_MISMATCH stacks.
  */
class TablesSpec extends AnyFunSuite with SparkTest {
  private val sfDir = "/root/testdata/sf0.001"

  test("events loader resolves ts to TimestampType against live testdata") {
    val ev = Tables.events(spark, sfDir)
    assert(ev.schema("ts").dataType === TimestampType,
      s"events.ts resolved to ${ev.schema("ts").dataType}; Tables.normalizeTs " +
      "must branch on the new physical type")
    assert(ev.count() > 0)
  }

  test("Readings.of resolves and yields sane event-times") {
    val r = graft.operators.Readings.of(spark, sfDir)
    val row = r.agg(
      count(lit(1)).as("n"),
      min(year(col("ts"))).as("ymin"),
      max(year(col("ts"))).as("ymax")).head()
    assert(row.getLong(0) > 0)
    // timestamps in a plausible calendar range (a nanos-vs-micros mixup
    // lands in year 1970 or year ~52000)
    assert(row.getInt(1) >= 1990 && row.getInt(2) <= 2100,
      s"ts year range [${row.getInt(1)}, ${row.getInt(2)}] — unit mismatch?")
  }

  test("normalizeTs handles the legacy nanos-as-long generation") {
    val ns = spark.range(3).select(
      (col("id") * 1000000000L + 1700000000000000000L).as("ts"))
    val out = Tables.normalizeTs(ns)
    assert(out.schema("ts").dataType === TimestampType)
    assert(out.count() === 3)
  }

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** An events-shaped parquet file whose ts is TIMESTAMP(NANOS), the
    * older testdata generation, written with parquet's own example writer.
    */
  private def nanosEvents(dir: java.nio.file.Path, nanos: Seq[Long]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,false)); required int64 user_id; " +
        "required double value; }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(dir.resolve("part-0.parquet").toString))
      .withType(schema).withConf(new org.apache.hadoop.conf.Configuration()).build()
    val rows = new SimpleGroupFactory(schema)
    try nanos.zipWithIndex.foreach { case (ns, i) =>
      w.write(rows.newGroup().append("event_id", i.toLong).append("ts", ns)
        .append("user_id", 7L).append("value", i * 1.5))
    } finally w.close()
  }
  private val nanos = Seq(1700000000123456789L, 1700000001000000999L)
  private val micros = nanos.map(_ / 1000L)

  test("events reader: TIMESTAMP(NANOS) values, session conf untouched") {
    val sf = java.nio.file.Files.createTempDirectory("graft-nanos-sf")
    nanosEvents(java.nio.file.Files.createDirectories(sf.resolve("events.parquet")), nanos)
    spark.conf.unset(NanosAsLong)
    val ev = Tables.events(spark, sf.toString)
    assert(ev.schema("ts").dataType === TimestampType)
    assert(ev.orderBy("event_id").select(unix_micros(col("ts"))).collect()
      .map(_.getLong(0)).toSeq == micros)
    assert(spark.conf.get(NanosAsLong) == "false")
  }

  test("readingsStream: TIMESTAMP(NANOS) values, session conf untouched") {
    val in = java.nio.file.Files.createTempDirectory("graft-nanos-in")
    nanosEvents(in, nanos)
    spark.conf.unset(NanosAsLong)
    val q = graft.streaming.Ingest.readingsStream(spark, in.toString)
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
      .writeStream.format("memory").queryName("nanos_readings")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    assert(spark.table("nanos_readings").orderBy("event_id").collect()
      .map(_.getLong(1)).toSeq == micros)
    assert(spark.conf.get(NanosAsLong) == "false")
  }
}
