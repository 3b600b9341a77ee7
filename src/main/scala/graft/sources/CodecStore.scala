package graft.sources

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Materialize
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Storage-codec matrix — the Spark-native answer to the reference's
  * per-codec compression-ratio benchmark (database/src/compress/mod.rs:
  * 127-135 prints `compressed_bytes / original_bytes` per codec per
  * dataset). The reference hand-implements ~15 codecs; on Spark the
  * equivalent degrees of freedom are the Parquet page codec
  * (uncompressed/snappy/gzip/zstd) × the column representation (raw
  * double vs fixed-point long, which Parquet dictionary/bit-pack encodes
  * natively — the BUFF-domain effect). This job measures real on-disk
  * bytes per combination.
  */
object CodecStore {

  val Codecs: Seq[String] = Seq("uncompressed", "snappy", "gzip", "zstd")

  private def dirBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum
    finally s.close()
  }

  /** Write `df` once per codec, return (codec, representation, bytes, cr)
    * with cr relative to the uncompressed double representation. The
    * result is a local frame: every materialization made for the
    * measurement is released before it returns.
    */
  def compressionMatrix(readings: DataFrame): DataFrame = Materialize.scoped {
    // the matrix is ~20 independent single-partition write jobs; submit
    // them concurrently (Spark schedules concurrent jobs fine) so the
    // measurement's wall time is bounded by the slowest write, not the
    // sum — byte accounting is per-directory and unaffected by order.
    // The pool is sized to the in-flight job count, not the core count:
    // every job here is a single-partition write (or one bounded agg), so
    // the cluster scheduler, not this pool, bounds real parallelism — at
    // 8 the twelve repr writes queued in two waves for no reason
    val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
    // every task has finished, on success or failure, before the scope
    // releases what the tasks materialized and read
    try matrix(readings)(Materialize.inScope(ExecutionContext.fromExecutor(pool)))
    finally {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, java.util.concurrent.TimeUnit.NANOSECONDS)
    }
  }

  private def matrix(readings: DataFrame)(implicit ec: ExecutionContext): DataFrame = {
    val spark = readings.sparkSession
    import spark.implicits._
    val base = java.nio.file.Paths.get(Materialize.scratchDir("codec"))
    // materialized once: the readings feed ~8 independent measurement
    // jobs (3 representations x 4 codecs, the segment encoders, the
    // plane layouts, the base-min scalar) — unmaterialized, each write
    // re-ran the seq_no window-over-events upstream. Row values and
    // per-partition order are unchanged at bench scale (local
    // checkpoint); these frames are O(corpus), so the materialization is
    // SIZE-GATED (Materialize.shared): past the threshold it stages to
    // parquet instead of pinning data-sized blocks in executor storage.
    val rd = Materialize.shared(readings)
    // delta_q: per-signal first differences of the fixed-point column —
    // the Sprintz/Gorilla insight (deltas of slowly-varying signals are
    // small ints that dictionary/bit-pack encodings crush) expressed as a
    // representation choice; lossless (first value kept verbatim)
    val w = Window.partitionBy(col("signal_id")).orderBy(col("seq_no"))
    // the delta representation is written under 4 codecs — one window
    // pass, not four
    val deltas = Materialize.shared(
      rd.select(col("signal_id"), col("seq_no"),
        (col("value_q") - coalesce(lag(col("value_q"), 1).over(w), lit(0L))).as("dq")))
    val reprs = Seq(
      "double" -> rd.select(col("signal_id"), col("seq_no"), col("value")),
      "fixed_q" -> rd.select(col("signal_id"), col("seq_no"), col("value_q")),
      "delta_q" -> deltas)
    def measured(repr: String, codec: String, df: DataFrame)
        : Future[(String, String, Long)] = Future {
      val out = base.resolve(s"$repr-$codec")
      df.coalesce(1).write.mode("overwrite")
        .option("compression", codec).parquet(out.toString)
      (codec, repr, dirBytes(out))
    }
    val rowsF = Future.sequence(for {
      (repr, df) <- reprs
      codec <- Codecs
    } yield measured(repr, codec, df))
    // native per-segment codecs (Gorilla XOR / Sprintz delta-zigzag, see
    // graft.functions.CodecExpressions): payload bytes = sum of encoded
    // segment lengths — the reference's own CR accounting
    // (compress/mod.rs:127-135 compares encoded bytes, not file bytes).
    // Submitted as a concurrent job like the writes (r16): it only feeds
    // the final rows, and run synchronously it serialized the driver
    // between the repr writes and the plane derivations.
    val segs = graft.operators.Segments.of(rd)
    import graft.functions.CodecFunctions._
    val q = transform(col("values"), v => floor(v * lit(100)).cast("long"))
    val nativeRowsF = Future {
      segs.select(
          sum(octet_length(gorillaEncode(col("values")))).cast("long").as("g"),
          sum(octet_length(sprintzEncode(q))).cast("long").as("s"),
          sum(octet_length(fcmEncode(q))).cast("long").as("f"))
        .collect()(0)
    }
    // BUFF plane layouts: plain byte planes vs majority/outlier-coded
    // planes (majority rows NULLed into Parquet definition levels + a
    // per-signal dictionary). Measured finding worth keeping visible: on
    // Parquet the two land within ~7% of each other — Parquet's own
    // dictionary/RLE page encoding already delivers the majority-byte
    // win the reference hand-codes over verbatim byte planes
    // (buff_simd.rs:317-632), so on Spark the outlier coding's value is
    // the exception-isolating query semantics (see BuffStore), not bytes.
    // coalesce(1) like the rows above: this is a measurement-only job
    // (stable byte accounting mirroring the reference's single-block CR
    // printout) — never copy this into a data-path writer.
    val baseQ = rd.agg(min(col("value_q"))).first().getLong(0)
    // plane/outlier layouts each written under 2 codecs — derive once
    // (size-gated like rd/deltas above: these are O(corpus) too). The
    // two outlier layouts materialize CONCURRENTLY (they derive from the
    // shared plane frame independently — run in sequence they added two
    // full eager jobs to the driver's serial chain), and each (layout,
    // codec) write is its own future: the former per-codec future ran
    // its three writes back-to-back, so the measurement's wall time was
    // 3x a write instead of the slowest one.
    val pl = Materialize.shared(BuffStore.planes(rd, baseQ, 3))
    val (encL, majL) = BuffStore.outlierEncode(pl, 3)
    val encF = Future(Materialize.shared(encL))
    val majF = Future(Materialize.shared(majL))
    val (enc, maj) =
      (Await.result(encF, Duration.Inf), Await.result(majF, Duration.Inf))
    def measuredDir(repr: String, codec: String, df: DataFrame)
        : Future[(String, String, Long)] = Future {
      val out = base.resolve(s"$repr-$codec")
      df.coalesce(1).write.mode("overwrite")
        .option("compression", codec).parquet(out.toString)
      (codec, repr, dirBytes(out))
    }
    val planeRowsF = Future.sequence(for {
      codec <- Seq("uncompressed", "zstd")
      (repr, df) <- Seq("buff_planes" -> pl, "buff_outlier" -> enc,
        "buff_outlier_dict" -> maj)
    } yield measuredDir(repr, codec, df))
    val (rows, planeParts, nativeRows) =
      (Await.result(rowsF, Duration.Inf),
        Await.result(planeRowsF, Duration.Inf),
        Await.result(nativeRowsF, Duration.Inf))
    // the outlier layout's published bytes stay enc + dict, as before
    val planeRows = Seq("uncompressed", "zstd").map { codec =>
      def b(r: String): Long = planeParts.collectFirst {
        case (c, rr, bytes) if c == codec && rr == r => bytes
      }.getOrElse(0L)
      Seq((codec, "buff_planes", b("buff_planes")),
        (codec, "buff_outlier", b("buff_outlier") + b("buff_outlier_dict")))
    }
    val allRows = rows ++ planeRows.flatten ++ Seq(
      ("native", "gorilla_seg", nativeRows.getLong(0)),
      ("native", "sprintz_seg", nativeRows.getLong(1)),
      ("native", "fcm_seg", nativeRows.getLong(2)))
    val baseline = rows.collectFirst {
      case ("uncompressed", "double", b) => b.toDouble
    }.getOrElse(1.0)
    allRows.map { case (c, r, b) => (c, r, b, b / baseline) }
      .toDF("codec", "repr", "bytes", "cr")
  }
}
