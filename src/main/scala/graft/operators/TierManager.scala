package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField,
  StructType, TimestampType}
import graft.plans.{ZoneMap, ZoneMapRegistry}

/** S6 — tier lifecycle: the storage ladder the reference runs with
  * buffer-pool eviction + recoding daemons (database/src/buffer_pool.rs
  * clock/LRU tiers, recoding_daemon.rs aging ladder), expressed as Spark
  * batch jobs over partitioned Parquet:
  *
  *   tier0 (exact, hot) --age--> tier1 (quantized) --age--> tier2 (PAA w)
  *                                       --age--> tier3 (PAA 2w, re-recoded)
  *
  * `compactTo*` moves data older than a cutoff down one tier, guarded
  * per segment by the projected compression ratio (Tiers.recodePlan —
  * don't rewrite what won't shrink), writes Parquet partitioned by signal
  * bucket, and registers the per-tier zone-map stats table; queries read
  * whichever tier covers their range (e.g. maxFromColdTier). Each step is a
  * partition rewrite — at 100 TB this is the standard compaction shape
  * (bounded per-job IO, no cross-partition shuffle beyond the PAA
  * aggregation key).
  *
  * Each step is ONE pass over its input: the row count a step returns is
  * the metric its own write observed (Tiers.writeTier), never a second
  * action that would re-scan the tier below and repeat every shuffle.
  * Every tier is read with its fixed stored schema, so a step whose input
  * tier is empty (a zero-row partitioned write leaves no Parquet file)
  * moves 0 rows instead of failing to infer a schema.
  */
class TierManager(spark: SparkSession, root: String) {

  val tier0 = s"$root/tier0" // exact readings
  val tier1 = s"$root/tier1" // quantized (value dropped, value_q kept)
  val tier2 = s"$root/tier2" // PAA chunk means (+ exact chunk sums)
  val tier3 = s"$root/tier3" // PAA at doubled width, re-recoded FROM tier2
  private def stats(t: String) = s"$t.stats"
  private def readTier(t: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(t)

  /** Land exact readings into tier0 (ingest output). The data write and
    * the zone-map stats write are independent (separate outputs, both
    * reading `readings`), so they run CONCURRENTLY — sequential, the
    * landing paid two full driver-serialized jobs back to back. Both
    * complete before this returns, so callers' visibility contract is
    * unchanged.
    */
  def landTier0(readings: DataFrame): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val tierStats = ZoneMap.tierStats(readings)
    val statsW = Future {
      tierStats.write.mode("overwrite").parquet(stats(tier0))
    }
    // on a failure path the stats future is drained before rethrowing
    // (the Ingest.profileStream discipline: never leave a zombie write
    // racing a caller's retry against the same directory)
    try Tiers.writeTier(readings, tier0)
    catch { case t: Throwable =>
      scala.util.Try(Await.result(statsW, Duration.Inf)); throw t
    }
    Await.result(statsW, Duration.Inf)
    ZoneMapRegistry.register(tier0, stats(tier0), tierStats.schema)
  }

  /** Age tier0 rows with ts < cutoff into the quantized tier (drop the
    * raw double; keep the fixed-point long that Parquet dictionary/bitpack
    * encodes natively — the BUFF-domain representation).
    */
  def compactToQuantized(cutoff: java.sql.Timestamp): Long = {
    val aged = readTier(tier0, TierManager.RowTier).filter(col("ts") < lit(cutoff))
    val out = aged.select(col("signal_id"), col("ts"), col("seq_no"), col("value_q"))
    val moved = Tiers.writeTier(out, tier1)
    // per-tier zone map: stats over the DEQUANTIZED view — exactly the
    // values a query over tier1 observes, so stats-only answers stay
    // consistent with data answers at this tier. (tier2/tier3 need no
    // zone map: chunk tiers ARE pre-aggregates; their stats query is a
    // plain fold, maxFromColdTier/maxFromTier3.)
    val tierStats = ZoneMap.tierStats(
      out.withColumn("value", col("value_q").cast("double") / 100.0))
    tierStats.write.mode("overwrite").parquet(stats(tier1))
    ZoneMapRegistry.register(tier1, stats(tier1), tierStats.schema)
    moved
  }

  /** Age tier1 rows into PAA chunk means, guarded by projected CR:
    * segments whose PAA rewrite wouldn't beat `targetCr` stay quantized.
    */
  def compactToPaa(w: Int, targetCr: Double): Long =
    compactToPaaPlanned(w,
      t1 => Tiers.recodePlan(t1, w, targetCr)
        .filter(col("recode")).select(col("signal_id"), col("seg")))

  /** compactToPaa with the CLOSED feedback loop (Tiers
    * .recodePlanWithFeedback): segments whose measured PAA reconstruction
    * error exceeds `errBudget` are NOT demoted even when the CR guard
    * would approve them — the reference's bandit-reward semantics
    * (buffer_pool.rs:940-1260).
    */
  def compactToPaaWithFeedback(w: Int, targetCr: Double, errBudget: Double): Long =
    compactToPaaPlanned(w,
      t1 => Tiers.recodePlanWithFeedback(t1, w, targetCr, errBudget)
        .filter(col("recode")).select(col("signal_id"), col("seg")))

  private def compactToPaaPlanned(w: Int, planOf: DataFrame => DataFrame): Long = {
    val t1 = readTier(tier1, TierManager.RowTier)
      .withColumn("value", col("value_q").cast("double") / 100.0)
    val plan = planOf(t1)
    // per-SEGMENT guard (reference recoding_daemon.rs:283-348): only the
    // exact segments the plan approved are rewritten; a signal's other
    // segments stay quantized
    val eligible = t1.withColumn("seg", Readings.segmentId(col("seq_no")))
      .join(plan, Seq("signal_id", "seg"), "left_semi")
      .drop("seg")
    // the exact chunk sums (sq) ride along so later ladder passes re-recode
    // losslessly from the stored tier (rePaaChunks), not from means
    val paa = Tiers.paaChunks(eligible, w)
      .select(col("signal_id"), col("chunk"), col("chunk_mean"), col("cnt"), col("sq"))
    Tiers.writeTier(paa, tier2)
  }

  /** BUFF-lossy aging pass on the QUANTIZED tier (reference
    * buff_lossy.rs:265 buff_recode_remove_bits; the recoding daemon drops
    * 8 low bits per pass, recoding_daemon.rs:351-416): rewrite tier1 with
    * the low `bits` bits of value_q zeroed. Map-only — a pure partition
    * rewrite with no shuffle; the absolute error introduced is < 2^bits
    * fixed-point units (2^bits / 10^scale in value terms), and the zeroed
    * low bits make Parquet's bit-pack/dictionary encodings strictly
    * smaller. Returns the rewritten row count.
    */
  def compactQuantizedDropBits(bits: Int): Long = {
    val t1 = readTier(tier1, TierManager.RowTier)
    val out = t1.select(col("signal_id"), col("ts"), col("seq_no"),
      graft.functions.Quantize.approxTruncate(col("value_q"), bits).as("value_q"))
    Tiers.writeTier(out, tier1Lossy)
  }

  val tier1Lossy = s"$root/tier1_lossy" // quantized with low bits dropped

  /** The next ladder pass (reference recoding_daemon.rs:351-416 — PAA
    * window x2 per pass): tier2 chunks merge pairwise into tier3, guarded
    * per segment by the projected CR of the halving (skip segments the
    * merge wouldn't shrink below `targetCr` of their tier2 footprint).
    * Because tier2 carries exact chunk sums, tier3 equals a single PAA
    * pass at width 2w bit-for-bit.
    */
  def compactToPaa2(w: Int, targetCr: Double): Long = {
    val t2 = readTier(tier2, TierManager.ChunkTier)
    val segOf = floor(col("chunk") * lit(w.toDouble) / lit(Readings.SegmentRows.toDouble))
      .cast("long").as("seg")
    val plan = t2.groupBy(col("signal_id"), segOf)
      .agg(count(lit(1)).as("n_chunks"))
      .withColumn("cr_step",
        ceil(col("n_chunks") / 2.0).cast("double") / col("n_chunks").cast("double"))
      .filter(col("cr_step") < targetCr)
      .select(col("signal_id"), col("seg"))
    val eligible = t2.withColumn("seg", segOf)
      .join(plan, Seq("signal_id", "seg"), "left_semi")
      .drop("seg")
    val paa2 = Tiers.rePaaChunks(eligible, 2)
    Tiers.writeTier(paa2, tier3)
  }

  /** Act on streamed bandit decisions (Ingest.policyStream output): the
    * segments whose chosen arm is `arm` are demoted from tier1 to the
    * PAA chunk tier at that arm's width — the action half of the
    * reference's recoding daemon (recoding_daemon.rs:283-348 executes
    * the chosen transform per segment). One pass per arm; a full
    * deployment runs one pass per lossy arm into per-width tiers.
    */
  def applyPaaDecisions(decisions: DataFrame, arm: String = "paa_4",
                        w: Int = 4): Long =
    compactToPaaPlanned(w,
      _ => decisions.filter(col("codec") === arm)
        .select(col("signal_id"), col("seg")).distinct())

  /** Max over the coldest tier that still answers exactly for the range —
    * here: stats-only for grand totals (zone map), PAA for aged data.
    */
  def maxFromColdTier(): DataFrame =
    readTier(tier2, TierManager.ChunkTier)
      .groupBy(col("signal_id")).agg(max(col("chunk_mean")).as("paa_max"))

  /** Same query answered from the tier3 (doubled-width) ladder step. */
  def maxFromTier3(): DataFrame =
    readTier(tier3, TierManager.ChunkTier)
      .groupBy(col("signal_id")).agg(max(col("chunk_mean")).as("paa_max"))

  /** EXACT per-signal sum/avg served from the cold chunk tier — no
    * readings scan: tier2/tier3 carry the exact fixed-point chunk sums
    * (`sq`) precisely so aggregates survive the lossy mean compaction;
    * this is the read path that uses them (the reference answers sum
    * from AggStats the same way, buffer_pool.rs:940-1101). The scan is
    * 1/w the size of the data and the fold is one keyed aggregation.
    */
  def sumFromColdTier(): DataFrame =
    TierManager.sumFromChunks(readTier(tier2, TierManager.ChunkTier))

  /** Same exact-sum serving from the tier3 (doubled-width) step. */
  def sumFromTier3(): DataFrame =
    TierManager.sumFromChunks(readTier(tier3, TierManager.ChunkTier))

  /** Apply a [[Tiers.lruPlan]] decision table to landed readings: keep
    * segments stay raw in `hot/`, recode segments rewrite to PAA chunks in
    * `paa/` (exact fixed-point chunk sums, so sums stay exact), spill
    * segments move raw-but-out-of-buffer to `cold/` — the reference's
    * LRUBuffer evict/recode step (buffer_pool.rs:720-1260) as three
    * bounded partition rewrites. The three outputs PARTITION the segment
    * set (every segment lands in exactly one — TierManagerSpec asserts the
    * coverage and the hot-bytes budget invariant).
    */
  def applyLruPlan(readings: DataFrame, plan: DataFrame, w: Int): Unit = {
    val keyed = readings
      .withColumn("seg", Readings.segmentId(col("seq_no")))
    def segsWith(action: String): DataFrame =
      keyed.join(
        plan.filter(col("action") === action).select(col("signal_id"), col("seg")),
        Seq("signal_id", "seg"))
    Tiers.writeTier(segsWith("keep").drop("seg"), s"$root/hot")
    Tiers.writeTier(Tiers.paaChunks(segsWith("recode").drop("seg"), w),
      s"$root/paa")
    Tiers.writeTier(segsWith("spill").drop("seg"), s"$root/cold")
  }

  /** MERGE-style upsert of LATE CORRECTIONS into tier0 — the parquet
    * analogue of Delta's MERGE, the lifecycle step the reference's
    * buffer rewrite covers with in-place RocksDB puts. Corrections win
    * by (signal_id, seq_no); new keys append. Only the sig_bucket
    * partitions the corrections touch are rewritten (dynamic partition
    * overwrite — bounded per-job I/O at any tier size), and the zone-map
    * stats are PATCHED the same way: affected signals' rows recomputed,
    * the rest carried over untouched. A size-gated materialization
    * (Materialize.shared) breaks the read-own-path cycle both rewrites
    * would otherwise hit; both are released once the rewrites land.
    * Idempotent: re-applying the same corrections is a no-op.
    * Returns the number of correction rows applied.
    */
  def upsertCorrections(corrections: DataFrame, buckets: Int = 32): Long = Materialize.scoped {
    // the 'corrections win by (signal_id, seq_no)' contract must also hold
    // WITHIN a batch: byte-identical resends collapse silently; two
    // CONFLICTING rows for one key have no defined winner (the batch
    // carries no ordering column), so fail loudly rather than land both
    val deduped = corrections.dropDuplicates()
    val keyed = deduped
      .withColumn("sig_bucket", pmod(col("signal_id"), lit(buckets)))
    // ONE probe pass over the batch (was three jobs: the dup-key check,
    // the row count, and the touched-bucket distinct): row count vs
    // distinct-key count detects within-batch conflicts, and the bucket
    // set is bounded by `buckets`, so the collect_set stays driver-safe
    // at any batch size. The offending key is re-derived only on the
    // failure path, where its extra job cost is irrelevant.
    val probe = keyed.agg(count(lit(1)).as("n"),
      count_distinct(col("signal_id"), col("seq_no")).as("nd"),
      collect_set(col("sig_bucket")).as("touched")).first()
    val nCorr = probe.getLong(0)
    if (nCorr != probe.getLong(1)) {
      val dupKeys = deduped.groupBy(col("signal_id"), col("seq_no"))
        .count().filter(col("count") > 1L).limit(1).collect()
      require(dupKeys.isEmpty,
        s"upsertCorrections: conflicting correction rows for key " +
          s"(signal_id=${dupKeys.headOption.map(_.get(0)).orNull}, " +
          s"seq_no=${dupKeys.headOption.map(_.get(1)).orNull}) within one batch")
    }
    val touched: Array[Any] = probe.getSeq[Any](2).toArray
    val existing = spark.read.parquet(tier0)
      .filter(col("sig_bucket").isin(touched: _*))
    // materialized to break the read-own-path cycle (the rewrite reads
    // tier0 while overwriting it); size-gated — the merged frame is
    // O(touched partitions), which a wide correction batch can make
    // corpus-sized, so past the bound it stages to scratch parquet
    // (which breaks the cycle just as well) instead of pinning executor
    // storage (Materialize.shared's discipline)
    val merged = Materialize.shared(existing
      .join(keyed.select(col("signal_id"), col("seq_no")),
        Seq("signal_id", "seq_no"), "left_anti")
      .unionByName(keyed))
    merged.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("sig_bucket").parquet(tier0)
    // patch the zone map: recompute only the affected signals' rows
    val affected = keyed.select(col("signal_id")).distinct()
    val fresh = ZoneMap.tierStats(
      spark.read.parquet(tier0).join(affected, Seq("signal_id")))
    val patched = Materialize.shared(spark.read.parquet(stats(tier0))
      .join(affected, Seq("signal_id"), "left_anti")
      .unionByName(fresh))
    patched.write.mode("overwrite").parquet(stats(tier0))
    nCorr
  }
}

object TierManager {
  /** Stored schemas of the tiers the ladder reads, with the partition
    * column. A row tier (tier0's ladder columns, tier1) keeps readings;
    * a chunk tier (tier2, tier3) keeps PAA chunks with their exact sums.
    */
  private val Bucket = StructField("sig_bucket", IntegerType)
  private val RowTier: StructType = StructType(Seq(
    StructField("signal_id", LongType), StructField("ts", TimestampType),
    StructField("seq_no", LongType), StructField("value_q", LongType), Bucket))
  private val ChunkTier: StructType = StructType(Seq(
    StructField("signal_id", LongType), StructField("chunk", LongType),
    StructField("chunk_mean", DoubleType), StructField("cnt", LongType),
    StructField("sq", LongType), Bucket))

  /** Fold a chunk tier (signal_id, chunk, chunk_mean, cnt, sq) into exact
    * per-signal sum/count/avg: `sq` is the exact fixed-point in-chunk sum,
    * so the result is bit-equal to aggregating the raw readings.
    */
  def sumFromChunks(chunks: DataFrame): DataFrame =
    chunks.groupBy(col("signal_id"))
      .agg(sum(col("sq")).cast("long").as("sum_q"),
           sum(col("cnt")).cast("long").as("cnt"))
      .withColumn("avg_v", round(
        col("sum_q").cast("double") / (lit(100.0) * col("cnt").cast("double")), 6))
}
