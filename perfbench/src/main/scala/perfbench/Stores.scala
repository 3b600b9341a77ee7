package perfbench

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.CodecFunctions._
import graft.operators.Segments
import graft.sources.BuffStore

final class Ctx(val spark: SparkSession, val input: String, val work: String,
                val plan: JsonNode, val rec: Rec) {
  val events = s"$input/events.parquet"
  def mining: JsonNode = plan.get("mining")
  def longs(n: JsonNode): Seq[Long] = {
    val it = n.elements(); val b = Seq.newBuilder[Long]
    while (it.hasNext) b += it.next().asLong(); b.result()
  }
  def doubles(n: JsonNode): Seq[Double] = {
    val it = n.elements(); val b = Seq.newBuilder[Double]
    while (it.hasNext) b += it.next().asDouble(); b.result()
  }
}

/** Store layouts shared by the workloads: the tier ladder, the codec
  * segment store and the BUFF plane store, built through the program's
  * public calls. Every step is wrapped in a span named after its layer.
  */
object Stores {
  val Codecs = Seq("gorilla", "sprintz", "fcm", "bp")

  /** The landing output as readings: the per-signal position of
    * `Readings.of`, ordered the same way, over the landed
    * `signal_id, ts, event_id, value, value_q` rows.
    */
  def withSeqNo(r: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("signal_id")).orderBy(col("ts"), col("event_id"))
    r.select(col("signal_id"), col("ts"), col("value"), col("value_q"),
      row_number().over(w).cast("long").as("seq_no"))
  }

  final case class Paths(root: String) {
    val segs = s"$root/segs"
    def codec(c: String) = s"$root/codec_$c"
    val planes = s"$root/planes"
    val stats = s"$root/stats"
    val hist = s"$root/hist"
  }

  /** Sealed (complete) segments as fixed-point arrays, written once. */
  def writeSegments(readings: DataFrame, p: Paths): Unit =
    Trace.span("codec.segments") {
      Segments.completeQuantized(readings)
        .select(col("signal_id"), col("seg"), col("qvals"))
        .write.mode("overwrite").parquet(p.segs)
    }

  private def encoded(c: String, segs: DataFrame): DataFrame = {
    val q = col("qvals")
    val e = c match {
      case "gorilla" => gorillaEncode(transform(q, x => x.cast("double") / 100.0))
      case "sprintz" => sprintzEncode(q)
      case "fcm" => fcmEncode(q)
      case "bp" => bpEncode(q)
    }
    segs.select(col("signal_id"), col("seg"), e.as("enc"))
  }

  /** One encode per codec; returns (codec, seconds). */
  def writeCodecs(spark: SparkSession, p: Paths): Seq[(String, Double)] =
    Codecs.map { c =>
      val t0 = System.nanoTime()
      Trace.span(s"codec.encode.$c") {
        encoded(c, spark.read.parquet(p.segs)).write.mode("overwrite").parquet(p.codec(c))
      }
      c -> (System.nanoTime() - t0) / 1e9
    }

  /** BUFF planes from the tier0 store: base and plane count from one scan. */
  def writePlanes(spark: SparkSession, tier0: String, p: Paths): (Long, Int) =
    Trace.span("buff.write") {
      val r = spark.read.parquet(tier0)
      val mm = r.agg(min(col("value_q")), max(col("value_q"))).collect()(0)
      val base = mm.getLong(0)
      val n = BuffStore.planesFor(mm.getLong(1) - base)
      BuffStore.write(BuffStore.planes(r, base, n), p.planes)
      (base, n)
    }

  def writeTimeStats(readings: DataFrame, p: Paths): Unit = {
    Trace.span("zonemap.stats") {
      graft.plans.ZoneMap.timeStats(readings).write.mode("overwrite").parquet(p.stats)
    }
    Trace.span("zonemap.hist") {
      graft.plans.ZoneMap.timeHistogram(readings).write.mode("overwrite").parquet(p.hist)
    }
  }

  def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (!f.exists()) 0L
    else {
      val s = java.nio.file.Files.walk(f.toPath)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .filter(x => !x.getFileName.toString.startsWith(".")).mapToLong(java.nio.file.Files.size(_)).sum
      finally s.close()
    }
  }

  val FarFuture = java.sql.Timestamp.valueOf("2100-01-01 00:00:00")
}
