package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import graft.functions.Quantize
import graft.operators.Materialize
import graft.sources.BatchStore

/** Structured Streaming ingestion — the Spark shape of the reference's
  * client -> BufferedSignal -> CompressionDaemon pipeline
  * (database/src/client.rs:27-344, future_signal.rs:121-217,
  * compression_daemon.rs:117-161):
  *
  *  - S1 source: file stream replay (rate-limited via maxFilesPerTrigger,
  *    the analogue of the reference's Frequency/Amount client knobs);
  *  - S2 segmentation: fixed-size per-signal chunks via
  *    flatMapGroupsWithState (the reference's split_decider `i >= j`);
  *  - S3 sink: foreachBatch append to tier-0 Parquet partitioned by signal
  *    bucket — micro-batches replace the daemon's buffer-threshold
  *    hand-off; event-time watermarking covers the late-data semantics the
  *    reference never had (SURVEY §2.3).
  */
object Ingest {

  import org.apache.spark.sql.types._

  /** Static schemas of profileStream's persisted snapshots — supplied to
    * every per-batch read so no micro-batch pays a footer/schema-
    * inference pass per directory.
    */
  private val SegSnapshotSchema = StructType(Seq(
    StructField("signal_id", LongType), StructField("seg", LongType),
    StructField("qvals", ArrayType(LongType))))
  private val ProfSnapshotSchema = StructType(Seq(
    StructField("signal_id", LongType), StructField("seg", LongType),
    StructField("nnd_q", LongType), StructField("exact", BooleanType)))
  private val RouteStateSchema = StructType(Seq(
    StructField("kind", StringType), StructField("signal_id", LongType),
    StructField("m", LongType), StructField("t", LongType),
    StructField("last_seg", LongType),
    StructField("last_qvals", ArrayType(LongType)),
    StructField("exact", BooleanType), StructField("ordered", BooleanType),
    StructField("touched", BooleanType), StructField("dense", BooleanType),
    StructField("grid_pairs", LongType), StructField("h", LongType),
    StructField("cnt", LongType), StructField("s0", LongType),
    // group-hash salt (MotifDiscord.groupHash)
    StructField("salt", LongType)))
  /** policyStream's persisted Q state: one row per decided micro-batch. */
  private val QStateSchema = StructType(Seq(
    StructField("q", ArrayType(DoubleType)), StructField("step", LongType)))

  /** Normalized streaming readings from raw event files (schema must be
    * supplied for a file stream; ns timestamps arrive as longs).
    */
  def readingsStream(spark: SparkSession, srcDir: String,
                     maxFilesPerTrigger: Int = 1): DataFrame = {
    val stream = spark.readStream
      .schema(graft.Tables.eventsSchema(spark, srcDir))
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(srcDir)
    // ts arrives as nanos-long or TIMESTAMP_NTZ/TIMESTAMP depending on the
    // testdata generation — same branch as Tables.normalizeTs
    graft.Tables.normalizeTs(stream)
      .select(
        col("user_id").as("signal_id"),
        col("ts"),
        col("event_id"),
        col("value"),
        Quantize.quantize(col("value"), 2).as("value_q"))
  }

  /** S1b — generator clients: synthetic signal streams from the
    * rate-micro-batch source (the reference's normal/uniform generator
    * clients, client.rs:231-344). Values are hash-derived from the row
    * index — deterministic per index at any parallelism, like the
    * reference's seeded generators.
    */
  def generatedSignals(spark: SparkSession, rowsPerBatch: Int, nSignals: Int): DataFrame =
    spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", rowsPerBatch)
      .option("startTimestamp", "0")
      .load()
      .select(
        pmod(col("value"), lit(nSignals.toLong)).as("signal_id"),
        col("timestamp").as("ts"),
        col("value").as("event_id"),
        ((abs(xxhash64(col("value"), lit("gen"))) % 100000L).cast("double") / 1000.0)
          .as("value"))
      .withColumn("value_q", Quantize.quantize(col("value"), 2))

  /** S3 — tier-0 writer: land micro-batches as Parquet partitioned by
    * (batch_id, signal bucket). When `statsDir` is set, each batch ALSO
    * lands its partial per-(signal, day) zone-map stats — the incremental
    * stats-tree maintenance of the reference's ingest (avl/btrarr.rs:92
    * update_stats); partial rows fold exactly at read time because every
    * stat is associative (ZoneMap.foldTimeStats). Stats cost one extra
    * keyed aggregation per micro-batch over that batch only.
    *
    * Every store is a [[graft.sources.BatchStore]], so each write is
    * IDEMPOTENT under foreachBatch's at-least-once replay: a batch
    * replayed after a crash between its writes and the checkpoint commit
    * replaces its own rows instead of appending duplicates (which would
    * double-count cnt/sum in the folded stats and duplicate tier-0 rows).
    * The store's 1,024-row pages are the layout `Tiers.writeTier` gives
    * every tier, so pushed predicates over the landing skip pages, not
    * only files.
    */
  def tier0Writer(readings: DataFrame, tier0Dir: String, checkpointDir: String,
                  buckets: Int = 32, statsDir: Option[String] = None,
                  histDir: Option[String] = None): StreamingQuery = {
    val spark = readings.sparkSession
    val tier0 = new BatchStore(spark, tier0Dir)
    val stats = statsDir.map(new BatchStore(spark, _))
    val hist = histDir.map(new BatchStore(spark, _))
    readings
      .withColumn("sig_bucket", pmod(col("signal_id"), lit(buckets)))
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        tier0.write(batch, batchId, "sig_bucket")
        stats.foreach(_.write(graft.plans.ZoneMap.timeStats(batch.drop("sig_bucket")), batchId))
        // percentile-sketch maintenance: per-batch partial value_q cells
        // (signal, day, value_q); ZoneMap.foldHistogram merges partials
        // exactly at read time, so the persisted sketch serves
        // percentiles with no raw-data scan
        hist.foreach(_.write(graft.plans.ZoneMap.timeHistogram(batch.drop("sig_bucket")), batchId))
      }
      .start()
  }

  /** Event-time windowed aggregation with watermark over the stream —
    * the streaming flavor of O6 (idiomatic Spark; positional windows are a
    * batch concept).
    */
  def windowedMax(readings: DataFrame, width: String, watermark: String): DataFrame =
    readings
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width))
      .agg(max(col("value")).as("wmax"), count(lit(1)).as("cnt"))
      .select(unix_timestamp(col("window.start")).as("wstart"),
        col("wmax"), col("cnt"))

  /** Event-time SESSION windows with watermark over the stream — the
    * streaming flavor of ts_session (same `session_window` semantics as
    * the batch query, so the parity spec compares them directly). State
    * per open session is bounded by the watermark: a session closes —
    * and its state drops — once the watermark passes its gap.
    */
  def sessionStream(readings: DataFrame, gap: String, watermark: String): DataFrame =
    readings
      .withWatermark("ts", watermark)
      .groupBy(col("signal_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("cnt"), max(col("value")).as("vmax"))
      .select(col("signal_id"),
        unix_timestamp(col("session_window.start")).as("s_start"),
        col("cnt"), col("vmax"))

  /** Streaming exact deduplication of a document stream — the streaming
    * flavor of Dedup.exact (first occurrence of each content hash wins).
    * `dropDuplicatesWithinWatermark` bounds the dedup state by event
    * time: a hash's state is dropped once the watermark passes it, the
    * only state shape that survives an unbounded 100 TB/day stream
    * (global dropDuplicates state would grow forever). Exactness is
    * therefore scoped to the watermark horizon — duplicates farther
    * apart than `watermark` need the batch operator (a nightly
    * Dedup.exact pass over the landed tier).
    */
  def dedupStream(docs: DataFrame, watermark: String): DataFrame =
    docs.withColumn("content_hash", xxhash64(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Incremental streaming near-dedup against a GROWING landed signature
    * store — the live-curation pipeline shape (a continuously-arriving
    * corpus dedups each batch against EVERYTHING landed before it, then
    * lands itself). [[nearDupStream]] serves a FIXED corpus; this is the
    * growth regime, and the shape whose per-batch cost curve the scale
    * harness commits (`graft.Bench dedup-growth`). Per
    * micro-batch:
    *
    *  1. per-row native shingle hashes -> per-row MinHash signature (the
    *     shared splitmix64 fold — no stream-side aggregation, no
    *     unbounded state, identical hashes to the batch path);
    *  2. the batch's band rows probe the PERSISTED band store for
    *     near-dup candidates landed by any earlier batch — the batch
    *     side is the small side (broadcast), the store side is a keyed
    *     scan (at 100 TB: bucket the store by band hash so the probe
    *     reads only matching buckets);
    *  3. candidates CONFIRM by exact Jaccard against the persisted
    *     element-set store — candidate-bounded work: only the store rows
    *     of flagged `dup_of` ids are read (join pruning), the batch's
    *     sets broadcast, and confirmed pairs land in `<store>/pairs` —
    *     the operator's output, same semantics as the batch path's
    *     nearDupBySets confirm (StreamingSpec pins cross-batch pair
    *     equality);
    *  4. the batch's bands and element sets land in their stores — the
    *     stores grow by O(batch), never rewritten.
    *
    * Replay-safe under foreachBatch's at-least-once delivery: every store
    * is a [[graft.sources.BatchStore]], and the probe reads only the
    * batches before the current one. A batch replayed after a crash
    * between its writes and the checkpoint commit replaces its own rows
    * and never probes its own bands (StreamingSpec drops a commit entry,
    * restarts, and compares every store to a clean run).
    *
    * Returns the started query; per-batch cost lives in `recentProgress`
    * (addBatch), and each batch's confirmed pairs in `<store>/pairs`.
    */
  def dedupGrowStream(spark: SparkSession, inDir: String, storeDir: String,
                      threshold: Double = 0.5,
                      maxFilesPerTrigger: Int = 1): StreamingQuery = {
    val schema = spark.read.parquet(inDir).schema
    val docs = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inDir)
    val bandStore = new BatchStore(spark, s"$storeDir/bands")
    val setStore = new BatchStore(spark, s"$storeDir/sets")
    val pairStore = new BatchStore(spark, s"$storeDir/pairs")
    docs.writeStream.outputMode("append")
      .option("checkpointLocation", s"$storeDir/_chk")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) => Materialize.scoped {
        val sp = batch.sparkSession
        import sp.implicits._
        val batchSets = Materialize.cache(batch
          .select(col("doc_id"),
            graft.functions.TextOps.shingleHashes3(col("text")).as("sh"))
          .filter(size(col("sh")) > 0))
        val sigs = batchSets
          .as[(Long, Seq[Long])]
          .map { case (id, sh) =>
            (id, graft.operators.Dedup.signatureOfHashes(sh))
          }
          .toDF("doc_id", "sig")
        // probe + append both consume the band rows; compute them once
        val bands = Materialize.cache(graft.operators.Dedup.bandsOfSignatures(sigs))
        def landed(store: BatchStore, like: DataFrame) =
          store.read(store.ids.rangeUntil(batchId).toSeq, like.schema)
        if (bandStore.ids.exists(_ < batchId)) {
          val cand = landed(bandStore, bands)
            .select(col("doc_id").as("dup_of"), col("band"), col("bh"))
            .join(broadcast(bands.withColumnRenamed("doc_id", "new_id")),
              Seq("band", "bh"))
            .select(col("new_id"), col("dup_of")).distinct()
          // exact confirm, candidate-bounded: the set store is read
          // only at the flagged dup_of ids (join pruning), the batch's
          // own sets broadcast, same size-ratio prune + one-pass
          // Jaccard as the batch confirm
          val confirmed = cand
            .join(landed(setStore, batchSets)
                .select(col("doc_id").as("dup_of"), col("sh").as("shb")),
              Seq("dup_of"))
            .join(broadcast(batchSets.withColumnRenamed("doc_id", "new_id")),
              Seq("new_id"))
            .where(least(size(col("sh")), size(col("shb"))).cast("double") >=
              lit(threshold) *
                greatest(size(col("sh")), size(col("shb"))).cast("double"))
            .withColumn("jac",
              graft.functions.TextOps.jaccardLongSets(col("sh"), col("shb")))
            .filter(col("jac") >= threshold)
            .select(col("new_id").as("doc_id"), col("dup_of"), col("jac"))
          pairStore.write(confirmed, batchId)
        }
        bandStore.write(bands, batchId)
        setStore.write(batchSets, batchId)
      }}
      .start()
  }

  /** Streaming NEAR-dedup against the landed corpus — the MinHash-LSH
    * serving shape (stream-static, like [[anomalyStream]]): an arriving
    * document is flagged the moment it lands if it is a near-duplicate of
    * anything already in the corpus. Everything stateful about batch LSH
    * is avoided by construction:
    *
    *  - the stream side computes its signature PER ROW
    *    (Dedup.signatureOfHashes — the same splitmix64 fold as the batch
    *    aggregator, proven equal in StreamingSpec), so there is no
    *    stream-side groupBy and no unbounded aggregation state;
    *  - candidates come from an equi-join of the stream's band rows onto
    *    the corpus band table (static side — persist it as parquet in
    *    production, exactly the IvfStore discipline); the exact-Jaccard
    *    confirm joins the corpus shingle sets by candidate id. Both joins
    *    are stream-static, stateless;
    *  - a doc matching a corpus doc in several bands emits one row per
    *    band; the final dropDuplicatesWithinWatermark bounds that dedup
    *    state by event time, as dedupStream does.
    *
    * New-vs-new pairs inside the stream are NOT detected here — the
    * nightly batch Dedup.minhashNearDup pass owns those, the same
    * division of labor as dedupStream's watermark horizon.
    * Output: (doc_id, ts, dup_of, jac).
    */
  def nearDupStream(docs: DataFrame, corpus: DataFrame, threshold: Double,
                    watermark: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import graft.operators.Dedup

    // stream-static joins re-execute the static side's plan EVERY
    // micro-batch; cache both static frames so the corpus is shingled
    // and minhashed once per query start, not once per trigger (in
    // production these live as parquet, the IvfStore discipline — the
    // cache here is the in-session equivalent). The returned stream
    // reads them for its whole life, so they belong to the caller's
    // scope and are released when it closes.
    val corpusSets = Dedup.shingleSets(corpus)
    val corpusBands = Materialize.cache(Dedup.bandTable(corpusSets)
      .select(col("doc_id").as("dup_of"), col("band"), col("bh")))
    val corpusSh = Materialize.cache(corpusSets.select(col("doc_id").as("dup_of"),
      col("sh").as("shb")))

    // per-row signature: the native shingle-hash expression (same
    // xxhash64 values as the batch path's shingleSets), then the shared
    // splitmix64 minima fold — no interpreted transform() hop
    val sigs = docs
      .select(col("doc_id"), col("ts"),
        graft.functions.TextOps.shingleHashes3(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
      .as[(Long, java.sql.Timestamp, Seq[Long])]
      .map { case (id, ts, sh) => (id, ts, sh, Dedup.signatureOfHashes(sh)) }
      .toDF("doc_id", "ts", "sh", "sig")

    // one-pass native confirm (same expression as the batch path's
    // nearDupBySets — see TextHash.jaccardDistinct)
    val jac = graft.functions.TextOps.jaccardLongSets(col("sh"), col("shb"))
    // candidate pairs dedup BEFORE the confirm join (the streaming twin of
    // the batch path's cand.distinct()): a pair colliding in all 16 bands
    // would otherwise evaluate the O(|sh|) exact Jaccard 16 times
    Dedup.bandsOfSignatures(sigs, carry = Seq("ts", "sh"))
      .join(corpusBands, Seq("band", "bh"))
      .select(col("doc_id"), col("ts"), col("sh"), col("dup_of"))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("doc_id", "dup_of")
      .join(corpusSh, Seq("dup_of"))
      // same size-ratio prune as the batch confirm
      .where(least(size(col("sh")), size(col("shb"))).cast("double") >=
        lit(threshold) * greatest(size(col("sh")), size(col("shb"))).cast("double"))
      .withColumn("jac", jac)
      .filter(col("jac") >= threshold)
      .select(col("doc_id"), col("ts"), col("dup_of"), col("jac"))
  }

  /** Streaming curation — the incremental flavor of PipelineOps.curate:
    * normalize + token-gate are stateless per-row maps; exact dedup is the
    * watermark-bounded first-occurrence state (dedupStream). Dedup keeps
    * the FIRST-ARRIVING row per content hash: this matches the batch
    * operator's min-doc_id keepers only when duplicates arrive in separate,
    * doc_id-ordered micro-batches (the case PipelineSpec asserts) —
    * duplicates landing in the SAME micro-batch race across shuffle
    * partitions and `dropDuplicatesWithinWatermark` keeps whichever is
    * processed first, not necessarily the min doc_id. Duplicates farther
    * apart than the watermark need the nightly batch pass, as with
    * dedupStream.
    */
  def curateStream(docs: DataFrame, watermark: String,
                   minToks: Long, maxToks: Long): DataFrame =
    dedupStream(
      docs.withColumn("cleaned", graft.functions.TextOps.cleanText(col("text")))
        .withColumn("toks", graft.functions.TextOps.wsTokenCount(col("text")))
        .filter(col("toks").between(minToks, maxToks)),
      watermark)
      .select(col("doc_id"), col("toks"), col("cleaned"))

  case class PackState(usedToks: Long)
  case class PackDocIn(doc_id: Long, lang: String, shard: Long, toks: Long)
  case class PackAssign(doc_id: Long, lang: String, shard: Long, toks: Long,
                        start_tok: Long, pack_id: Long)

  /** Streaming sequence packer — the incremental flavor of
    * PipelineOps.packAssignments: keyed state per (lang, shard) stream is
    * ONE long (tokens consumed), so state is O(#streams) regardless of
    * corpus size. Docs are assigned to the pack where their first token
    * lands; within a micro-batch rows are ordered by doc_id, so a stream
    * arriving in doc_id order reproduces the batch assignment exactly
    * (asserted in PipelineSpec).
    */
  def packStream(docs: DataFrame, budgetTokens: Long, shards: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val in = docs.select(col("doc_id"), col("lang"),
        pmod(col("doc_id"), lit(shards.toLong)).as("shard"),
        graft.functions.TextOps.wsTokenCount(col("text")).as("toks"))
      .as[PackDocIn]
    in.groupByKey(r => (r.lang, r.shard))
      .flatMapGroupsWithState[PackState, PackAssign](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (String, Long), rows: Iterator[PackDocIn], state: GroupState[PackState]) =>
          var used = state.getOption.map(_.usedToks).getOrElse(0L)
          val out = rows.toSeq.sortBy(_.doc_id).map { r =>
            val a = PackAssign(r.doc_id, key._1, key._2, r.toks,
              used, used / budgetTokens)
            used += r.toks
            a
          }
          state.update(PackState(used))
          out.iterator
      }.toDF()
  }

  case class SegState(nextSeg: Long, buf: List[Double])
  case class SegOut(signal_id: Long, seg: Long, values: Seq[Double])
  case class InRow(signal_id: Long, tsMicros: Long, event_id: Long, value: Double)

  /** S2 — fixed-size segmentation with keyed state: buffer per signal,
    * emit a segment every `segRows` values (reference
    * future_signal.rs:186-203). Within a batch, rows are ordered by
    * (ts, event_id) before appending, matching the batch seq_no order.
    */
  def segmentStream(spark: SparkSession, srcDir: String, segRows: Int,
                    maxFilesPerTrigger: Int = 1): DataFrame = {
    import spark.implicits._
    val rs = readingsStream(spark, srcDir, maxFilesPerTrigger)
      .select(col("signal_id"), unix_micros(col("ts")).as("tsMicros"),
        col("event_id"), col("value"))
      .as[InRow]

    rs.groupByKey(_.signal_id)
      .flatMapGroupsWithState[SegState, SegOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[InRow], state: GroupState[SegState]) =>
          val prev = state.getOption.getOrElse(SegState(0L, Nil))
          val incoming = rows.toSeq.sortBy(r => (r.tsMicros, r.event_id)).map(_.value)
          val all = prev.buf ++ incoming
          val full = all.grouped(segRows).toSeq
          val (complete, rest) =
            if (full.nonEmpty && full.last.size < segRows) (full.init, full.last)
            else (full, Nil)
          val out = complete.zipWithIndex.map { case (vs, i) =>
            SegOut(key, prev.nextSeg + i, vs)
          }
          state.update(SegState(prev.nextSeg + complete.size, rest.toList))
          out.iterator
      }.toDF()
  }

  /** Streaming seasonal-anomaly flagging — a STREAM-STATIC broadcast
    * join: arriving readings join the batch-computed per-(signal,
    * hour-of-day) baseline (bounded at signals x 24 rows, so Spark
    * broadcasts it to every executor; no stream-side shuffle, no state)
    * and rows deviating more than 2 sigma from their hour's baseline are
    * emitted immediately. This is the serving shape of
    * ts_seasonal_anomaly: the baseline refreshes on the batch cadence,
    * the flagging happens at ingest latency.
    */
  def anomalyStream(spark: SparkSession, srcDir: String,
                    baselines: DataFrame,
                    maxFilesPerTrigger: Int = 1): DataFrame =
    readingsStream(spark, srcDir, maxFilesPerTrigger)
      .withColumn("hod", hour(col("ts")))
      .join(org.apache.spark.sql.functions.broadcast(baselines),
        Seq("signal_id", "hod"))
      .filter(col("sd_q") > 0.0 &&
        abs(col("value_q").cast("double") - col("mean_q")) >
          lit(2.0) * col("sd_q"))
      .select(col("signal_id"), col("hod"), col("value"),
        round((col("value_q").cast("double") - col("mean_q")) / col("sd_q"), 6)
          .as("z"))

  /** Streaming corpus-quality monitor — per-event-time-window
    * cross-entropy of ARRIVING tokens under the LANDED corpus's add-alpha
    * unigram LM (the CCNet quality signal, served at ingest latency like
    * anomalyStream serves ts_seasonal_anomaly): a rising window xent
    * means the stream is drifting away from the corpus distribution —
    * junk, wrong language, or genuinely new material. Shape: the LM is a
    * static keyed aggregation (stream-static LEFT join, so
    * out-of-vocabulary tokens fall to the smoothing floor instead of
    * dropping); two bounded scalars (total mass, vocab size); one
    * windowed aggregation with watermark-bounded state. Batch parity is
    * exact (StreamingSpec): same fold, same 4-dp contract as text_xent.
    */
  def xentStream(docs: DataFrame, corpus: DataFrame, width: String,
                 watermark: String, alpha: Double = 0.5): DataFrame = {
    // cached for the same reason as nearDupStream's static frames, and
    // owned the same way (the caller's scope): the stream-static join
    // would otherwise rebuild the corpus-wide LM aggregation every
    // micro-batch
    val lm = Materialize.cache(corpus
      .select(explode(graft.functions.TextOps.tokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).cast("double").as("cnt")))
    val st = lm.agg(sum(col("cnt")).as("t"),
      count(lit(1)).cast("double").as("v")).head()
    val (total, vocab) =
      if (st.isNullAt(0)) (0.0, 0.0) else (st.getDouble(0), st.getDouble(1))
    // an empty corpus would make every lp = log(x/0) = ±Infinity and the
    // monitor would emit -Infinity xent silently; fail loudly instead
    require(total > 0.0,
      "xentStream: reference corpus is empty — the n-gram LM needs at " +
        "least one token to define the smoothed denominator")
    docs
      .select(col("ts"),
        explode(graft.functions.TextOps.tokens(col("text"))).as("term"))
      .join(lm, Seq("term"), "left")
      .withColumn("lp", log((coalesce(col("cnt"), lit(0.0)) + lit(alpha)) /
        lit(total + alpha * vocab)))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width))
      .agg(count(lit(1)).as("n_toks"),
        round(-sum(col("lp")) / count(lit(1)), 4).as("xent"))
      .select(unix_timestamp(col("window.start")).as("wstart"),
        col("n_toks"), col("xent"))
  }

  /** Streaming isolation-forest scoring against a FROZEN model — the
    * reference's predict_iforest serving loop (lossyML/src/file_io.rs:419)
    * at ingest latency: segments score the moment they seal. The model
    * (IsolationForest.fit) is driver-local and bounded (≤ trees·2^depth
    * nodes), rides the task closure like a broadcast, and the per-segment
    * walk is pure CPU — no state, no stream-side shuffle beyond
    * segmentStream's own keyed segmentation. PAA-4 features derive from
    * the sealed segment's values with the same fixed-point arithmetic as
    * the batch paaFeatures, so for complete segments the streamed scores
    * equal the batch scores exactly (StreamingSpec).
    */
  def iforestStream(spark: SparkSession, srcDir: String,
                    model: graft.ml.IsolationForest.ForestModel,
                    maxFilesPerTrigger: Int = 1): DataFrame = {
    import spark.implicits._
    segmentStream(spark, srcDir, segRows = 16, maxFilesPerTrigger)
      .as[SegOut]
      .map { s =>
        val feats = s.values.grouped(4).map { ch =>
          val sq = ch.map(v => math.floor(v * 100.0).toLong).sum
          sq.toDouble / (100.0 * ch.size.toDouble)
        }.toArray
        val (ad, ap, sc) = model.score(feats)
        (s.signal_id, s.seg, ad, ap, sc)
      }
      .toDF("signal_id", "seg", "avg_depth", "avg_path", "score")
  }

  /** Streaming MATRIX-PROFILE maintenance — STAMPI at segment granularity
    * folded into the ingest path: every micro-batch of newly sealed
    * segments updates a PERSISTED per-signal profile through ONE fold,
    * MotifDiscord.routedProfileFrom (cost-routed per signal: exact
    * incremental fold — O(m·δ) cross distances + O(δ²) within-batch for
    * short histories, duplicate-collapsed rep pairs past the size
    * threshold — wherever the route function's pair budget allows; the
    * incremental SAMPLED upper bound, O(m·δ/mod) per batch, for signals
    * whose histories are inherently dense, with the per-signal `exact`
    * flag carried into the snapshot), so discord/motif serving reads a
    * profile that is exact as of the last sealed segment wherever
    * exactness is affordable, and a flagged anytime bound where it is
    * not. This is the
    * reference's ingest-time outlier concern (future_signal.rs +
    * outlier/mod.rs) served continuously, the way iforestStream serves
    * the frozen forest.
    *
    * Persistence under `workDir`: three [[graft.sources.BatchStore]]s,
    * each partitioned by `batch_id` alone, so a visible batch directory
    * is a committed one.
    *  - `segs` — sealed segments (signal_id, seg, qvals), one batch per
    *    micro-batch. It is the data, not a derived view, and is never
    *    pruned;
    *  - `profile` — the FULL profile after each batch (signal_id, seg,
    *    nnd_q, exact). [[readProfile]] serves the newest one;
    *  - `state` — the folded ROUTE-PLAN state after each batch (one
    *    kind-tagged table: per-signal m/t/last-segment/exact/ordered +
    *    this batch's route flags; per-distinct-vector hash group counts
    *    + first-chunk sums). This is what makes the per-batch plan
    *    O(δ + |state|): the route decision folds from it instead of
    *    re-deriving rank windows / adjacency joins / chunk sums over the
    *    full history every micro-batch.
    * Batch N reads the segments of every batch before N and the newest
    * profile and state before N, and writes its own batch in each store.
    * A batch replayed after a crash therefore re-reads what it read the
    * first time and rewrites identical rows (StreamingSpec drops a commit
    * entry, restarts, and compares every store to a clean run). A work dir
    * written before the stores were keyed by `batch_id` fails at the
    * first listing instead of restarting the profile from empty.
    *
    * Retention: after each batch's writes return, profile and state
    * batches older than the newest `retainSnapshots` are pruned
    * (`BatchStore.prune`; a failed delete is logged and retried after the
    * next batch). Retention >= 1 keeps what a replay of the current batch
    * reads; a long-lived stream would otherwise leak one O(m)-sized
    * snapshot per micro-batch. retainSnapshots <= 0 keeps all.
    *
    * Exactness: profileIncrement over disjoint batches equals the batch
    * profile over the union (MotifDiscordSpec); segment ids from
    * segmentStream are per-signal monotone, so batches never overlap.
    * StreamingSpec proves the final streamed profile equals
    * MotifDiscord.profile over all complete segments on budget-clean
    * data, and equals MotifDiscord.profileAuto (the sampled bound,
    * exact=false) on a dense signal streamed under a tight budget.
    *
    * 100 TB shape: the per-batch work is one keyed join of the landed
    * segment store against the δ new segments plus a δ² self-join —
    * both partition-parallel; profile snapshots are one row per segment
    * (compact); nothing collects on the driver.
    *
    * Per-batch job ladder: δ materializes once (JOB 1, the only action
    * on the stream-side lineage) + one tiny δ sizing agg, and the segment
    * store append runs concurrently with the rest; the route-state fold
    * writes its snapshot DIRECTLY to parquet with the probe aggregates
    * riding the write via observe() — no state localCheckpoint (nothing
    * data-sized pinned in executor storage) and no separate probe job;
    * then the batch's profile snapshot is written by the one fold entry
    * point. Its probe comes from one of two lanes: when the carried
    * driver scalars certify the fast lane (skipGrid + all sig rows
    * exact), a certified probe on which the fold reads neither the
    * folded state nor the observed probe, so it runs CONCURRENTLY with
    * the state write; otherwise the observed probe, after the state
    * write lands. StreamingSpec pins one batch's jobs and tasks on each
    * lane. The stores list their ids once per query and the certificate
    * scalars are recovered once per query, then both are carried across
    * contiguous batches; every carried value advances only after the
    * batch's writes return, so a replay or a restart re-derives from the
    * persisted stores.
    *
    * Every `rebuildEvery` micro-batches the route state is NOT folded
    * but rebuilt from the landed segment store under a fresh group-hash
    * salt (MotifDiscord.routeStateOf): the landed
    * segments retain full vector fidelity, so the rebuild discards any
    * drift the folded state accumulated — a sticky 64-bit hash collision
    * (re-keyed by the new salt), a latched `ordered` flag after an
    * out-of-order append, or a min-merged s0 — restoring exact
    * fold-vs-batch route equality. The rebuild batch pays one O(m) pass
    * (the same cost as the first batch of a restarted stream); amortized
    * over the period it adds O(m / rebuildEvery) per batch, which for
    * the default 64 is far below the fold's own O(δ + |state|).
    * rebuildEvery <= 0 disables it.
    */
  def profileStream(spark: SparkSession, srcDir: String, workDir: String,
                    segRows: Int = 16,
                    maxFilesPerTrigger: Int = 1,
                    budget: Long = graft.operators.MotifDiscord.RouteBudget,
                    mod: Int = 4,
                    retainSnapshots: Int = 8,
                    rebuildEvery: Int = 64): StreamingQuery = {
    val segs = new BatchStore(spark, s"$workDir/segs")
    val profiles = new BatchStore(spark, s"$workDir/profile")
    val states = new BatchStore(spark, s"$workDir/state")
    // query-lifetime upper bound on the per-signal segment count (m),
    // carried across micro-batches so each batch can certify the
    // foldRouteState skipGrid hint (prior max m + δ rows <= PruneAbove
    // => no signal can cross the grid threshold this batch) without an
    // extra aggregation over the state. -1 = derive once from the prior
    // state at (re)start; batch replays only ever see a LARGER bound,
    // which is conservative (the grid runs when it might not need to).
    var maxMAll = -1L
    // group-hash salt of the persisted route state (MotifDiscord
    // .groupHash): -1 = recover from the prior state at (re)start.
    // Advanced to the batch id whenever the state is rebuilt from the
    // landed segments, so rebuilt group identities are freshly keyed.
    var stateSalt = -1L
    // min(exact) over ALL sig rows of the newest persisted state — the
    // second half of the fast-lane certificate (see the batch body).
    // Meaningful only once maxMAll >= 0; maintained from the state
    // write's observed metrics, recovered alongside maxMAll at (re)start.
    var allExactAll = true
    segmentStream(spark, srcDir, segRows, maxFilesPerTrigger)
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", s"$workDir/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) => Materialize.scoped {
        // everything below runs as BATCH jobs on the OUTER session, not
        // the micro-batch session clone: MicroBatchExecution force-
        // disables AQE on its clone (stateful-op limitation), which
        // would pin every one of this fold's shuffles to the static
        // partition count regardless of δ — dozens of near-empty-task
        // stages per batch on a small δ, and no skew/coalesce handling
        // at scale. The stream-side plan (segmentStream) still executes
        // on the clone when JOB 1 below lands δ; everything downstream
        // re-reads that landed parquet through the outer session.
        val s = spark
        import graft.operators.MotifDiscord
        // JOB 1 — materialize δ (same fixed-point mapping as the batch
        // Segments.completeQuantized). The localCheckpoint is the ONLY
        // action on the stream-side lineage, so the stateful
        // segmentation executes exactly once per trigger; the
        // checkpointed rows are re-bound to the outer session, and the
        // segment-store append runs CONCURRENTLY with the route-state
        // fold below (both consume the materialized δ, neither depends
        // on the other)
        val newSegsClone = Materialize.checkpoint(batch
          .withColumn("qvals",
            transform(col("values"), v => floor(v * lit(100)).cast("long")))
          .select(col("signal_id"), col("seg"), col("qvals")))
        val newSegs =
          s.createDataFrame(newSegsClone.rdd, newSegsClone.schema)
        // one tiny agg over the checkpointed δ blocks feeds the driver
        // decisions: the per-SIGNAL max count and the touched-signal count
        // certify the fast lane below, and the total row count sizes the
        // landing write —
        // a tiny δ written at the stream's full shuffle width lands 32
        // near-empty files per batch dir and every later batch re-pays
        // their listing+footer cost when it re-reads history, while a
        // bulk δ keeps its width (≈64k segment rows ≈ 10 MB per file)
        val dRow = newSegs.groupBy(col("signal_id"))
          .agg(count(lit(1)).as("c"))
          .agg(max(col("c")), sum(col("c")), count(lit(1))).first()
        val maxDeltaPerSig = if (dRow.isNullAt(0)) 0L else dRow.getLong(0)
        val deltaRows = if (dRow.isNullAt(1)) 0L else dRow.getLong(1)
        val deltaSignals = dRow.getLong(2)
        val segFiles = math.max(1L, math.min(
          newSegsClone.rdd.getNumPartitions.toLong,
          (deltaRows + 65535L) / 65536L)).toInt
        // the history this batch folds onto, fixed before its own
        // segments start landing
        val priorSegs = segs.ids.rangeUntil(batchId).toSeq
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        implicit val ec: ExecutionContext = Materialize.inScope(ExecutionContext.global)
        val segsWrite = Future(segs.write(newSegs.coalesce(segFiles), batchId))
        // every background write below is tracked here and awaited before
        // the batch function returns OR rethrows: if the profile fold or
        // write throws while a future is still writing, foreachBatch
        // would otherwise propagate immediately and an in-JVM restart's
        // replay could overwrite the batch's segs or state WHILE the
        // zombie write is still writing it — a mixed snapshot. On a
        // failure path the futures' own errors are swallowed (the primary
        // failure propagates); on the success path a failed future fails
        // the batch.
        val inFlight = scala.collection.mutable.ListBuffer[Future[Unit]](segsWrite)
        // every read uses the KNOWN static schemas — a per-batch
        // footer/schema-inference pass per directory is pure driver
        // latency the fold doesn't need
        val existingProfile =
          profiles.read(profiles.newestBefore(batchId).toSeq, ProfSnapshotSchema)
        val existingSegs = segs.read(priorSegs, SegSnapshotSchema)
        // prior route state (newest before this batch); absent on the
        // first batch — derive it from the landed history once. Every
        // rebuildEvery batches the fold is bypassed deliberately: rebuild
        // from the landed segments under a FRESH salt (see the class
        // doc's healing paragraph). Replay-safe: a replayed rebuild batch
        // re-derives the same salt (= batchId), so the rewritten
        // snapshot is identical.
        val doRebuild = rebuildEvery > 0 && batchId > 0 &&
          batchId % rebuildEvery == 0
        // one recovery aggregation per (re)start when a prior state
        // exists: salt, the global max per-signal count, and the
        // all-sig-rows-exact flag — all three carried in-memory across
        // contiguous batches thereafter (the state write's observed
        // metrics refresh the latter two each batch)
        def recoverScalars(st: DataFrame): Unit =
          if (stateSalt < 0L || maxMAll < 0L) {
            val r = st.agg(max(col("salt")),
              max(when(col("kind") === "sig", col("m"))),
              min(when(col("kind") === "sig", col("exact").cast("long"))))
              .first()
            if (stateSalt < 0L)
              stateSalt = if (r.isNullAt(0)) 0L else r.getLong(0)
            maxMAll = if (r.isNullAt(1)) 0L else r.getLong(1)
            allExactAll = r.isNullAt(2) || r.getLong(2) == 1L
          }
        val priorState = states.newestBefore(batchId) match {
          case Some(pb) if !doRebuild =>
            val st = states.read(Seq(pb), RouteStateSchema)
            recoverScalars(st)
            st
          case _ =>
            stateSalt = batchId
            val derived = MotifDiscord.routeStateOf(existingSegs,
              existingProfile, stateSalt)
            if (maxMAll < 0L) {
              // fresh JVM straight onto a rebuild boundary (or the very
              // first batch): with no landed history the scalars are the
              // empty-state literals; otherwise pay the recovery agg on
              // the derived frame (rare — once per JVM at most)
              if (priorSegs.isEmpty) { maxMAll = 0L; allExactAll = true }
              else recoverScalars(derived)
            }
            derived
        }
        val obs = org.apache.spark.sql.Observation(
          s"profile-probe-$batchId-${System.nanoTime()}")
        try {
          // per-SIGNAL δ bound (the grid threshold is per signal, so the
          // total δ row count would never certify the skip on a wide
          // fleet); computed by the landing-write sizing agg above
          val skipGrid =
            maxMAll + maxDeltaPerSig <= MotifDiscord.PruneAbove.toLong
          // FAST-LANE certificate, decided entirely on the driver from
          // carried scalars: skipGrid proves every touched signal's
          // folded m stays on the member route (<= PruneAbove => the fold
          // sets dense=false), and allExactAll (min exact over ALL sig
          // rows, observed off the previous state write) makes the
          // output's exact column the literal true — exactly the probe
          // the fold would produce on this route. Under the certificate
          // the profile fold reads neither the folded state nor its
          // probe, so it runs CONCURRENTLY with the state write instead
          // of behind it; any batch that can't certify (first contact
          // with a dense signal, a sampled-history signal, a restart
          // before recovery) waits for the state and reads its probe.
          val fastLane = skipGrid && allExactAll
          // JOB 2 — fold δ into the route state and write the snapshot
          // DIRECTLY to parquet: no data-sized blocks pinned in
          // non-replicated executor storage (the 100 TB-safe shape —
          // same discipline as Materialize.shared's staged path). The
          // probe aggregates ride the write via observe(), so the probe
          // costs zero extra jobs; a fold that needs the materialized
          // state re-reads the just-written snapshot (one small file at
          // steady state).
          val statePlan = MotifDiscord.foldRouteState(priorState, newSegs,
            budget, MotifDiscord.PruneAbove, skipGrid, stateSalt)
          val probeCols = MotifDiscord.probeMetricCols
          val stateWrite = Future(states.write(
            statePlan.observe(obs, probeCols.head, probeCols.tail: _*), batchId))
          inFlight += stateWrite
          val probe =
            if (fastLane) MotifDiscord.RoutePlanProbe.certified(deltaSignals,
              maxMAll + maxDeltaPerSig)
            else {
              Await.result(stateWrite, Duration.Inf)
              MotifDiscord.probeFromMetrics(obs.get)
            }
          profiles.write(MotifDiscord.routedProfileFrom(existingSegs,
            existingProfile, newSegs, states.read(Seq(batchId), RouteStateSchema),
            probe, mod), batchId)
        } catch { case t: Throwable =>
          inFlight.toList.foreach(f =>
            scala.util.Try(Await.result(f, Duration.Inf)))
          throw t
        }
        inFlight.toList.foreach(f => Await.result(f, Duration.Inf))
        // the observed probe is final once the state write landed:
        // refresh the carried certificate scalars and surface order
        // violations (the general path already read the same metrics)
        val probeFinal = MotifDiscord.probeFromMetrics(obs.get)
        maxMAll = math.max(maxMAll, probeFinal.maxMTouched)
        allExactAll = probeFinal.allExact
        if (probeFinal.unordered > 0)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"profileStream batch $batchId: out-of-order append detected; " +
              "routed profile equality degrades to an upper bound " +
              "for the affected signals")
        profiles.prune(batchId, retainSnapshots)
        states.prune(batchId, retainSnapshots)
      }}
      .start()
  }

  /** The newest profile snapshot written by [[profileStream]] under
    * `workDir`. Its store is partitioned by `batch_id` alone, so the
    * newest visible batch is a committed one, also while the stream is
    * writing the next.
    */
  def readProfile(spark: SparkSession, workDir: String): DataFrame = {
    val profiles = new BatchStore(spark, s"$workDir/profile")
    val newest = profiles.ids.lastOption
    require(newest.nonEmpty, s"no profile snapshots under ${profiles.dir}")
    profiles.read(newest.toSeq, ProfSnapshotSchema)
  }

  /** Streaming twin of the recoding bandit's reward job
    * (ml.Bandit.recodeRewardInputs): every COMPLETED segment emits its
    * per-arm reward row as it closes — the shape in which the reference
    * daemons consume segments (a recoding decision becomes possible the
    * moment a segment is sealed, not at the next batch pass). Rides
    * segmentStream's keyed state; the error fold is the same pure
    * function as the batch job, so stream rows equal the batch rows for
    * complete segments exactly (parity in StreamingSpec).
    */
  def rewardStream(spark: SparkSession, srcDir: String, segRows: Int,
                   maxFilesPerTrigger: Int = 1): DataFrame = {
    import spark.implicits._
    val raw = segmentStream(spark, srcDir, segRows, maxFilesPerTrigger)
      .as[SegOut]
      .map { s =>
        val rows = s.values.toArray.zipWithIndex.map { case (v, i) =>
          // global seq_no and the Quantize.quantize fixed-point mapping
          (s.seg * segRows + i + 1L, v, math.floor(v * 100.0).toLong)
        }
        val (e2, e4, er, ed, ep, ef, nd) = graft.ml.Bandit.segmentErrors(rows)
        (s.signal_id, s.seg, e2, e4, er, ed, ep, ef, nd)
      }
      .toDF("signal_id", "seg", "e2", "e4", "er", "ed", "ep", "ef", "nd")
    graft.ml.Bandit.rewardSelect(raw)
  }

  /** The streaming policy daemon, wired END TO END: sealed segments ->
    * per-arm rewards (rewardStream, distributed) -> one e-greedy
    * decision per segment with the Q vector carried ACROSS micro-batches
    * -> decisions landed as parquet for TierManager.applyPaaDecisions to
    * act on. This is the reference recoding daemon's continuous loop
    * (MABrecoding_daemon.rs:110-139: consume sealed segments forever,
    * update the policy, emit recode choices).
    *
    * Semantics and bounds:
    *  - decision order is ARRIVAL order, (signal_id, seg)-sorted within
    *    each micro-batch — the daemon's own semantics (segments are
    *    decided as they seal). Parity with the batch replay
    *    (Bandit.recodeReplay) is exact when segments arrive in global
    *    (signal_id, seg) order, e.g. a single-batch replay
    *    (StreamingSpec asserts this);
    *  - the per-batch fold materializes only the MICRO-BATCH's reward
    *    rows on the driver (bounded by maxFilesPerTrigger), never the
    *    stream;
    *  - crash safety: the decisions and the Q state are two
    *    [[graft.sources.BatchStore]]s (`decisionsDir` and
    *    `<decisionsDir>.qstate`, one Q row per batch). Batch N starts
    *    from the Q of the newest state batch before N (Q0 when there is
    *    none), writes its decisions, then its own Q. A replayed batch
    *    therefore re-decides the same rows from the same Q and overwrites
    *    its own decisions and Q, whether the crash came between the two
    *    writes or after both. A state directory in another layout (a
    *    stray file, or the Q rows appended before the state was keyed by
    *    batch) fails the first batch before any decision is written,
    *    instead of restarting the walk from Q0.
    */
  def policyStream(spark: SparkSession, srcDir: String, segRows: Int,
                   decisionsDir: String, checkpointDir: String,
                   maxFilesPerTrigger: Int = 1): StreamingQuery = {
    import spark.implicits._
    val arms = graft.ml.Bandit.RecodeArms
    val decisions = new BatchStore(spark, decisionsDir)
    val qStates = new BatchStore(spark, s"$decisionsDir.qstate")
    def q0 = (Array.fill(arms.length)(graft.ml.Bandit.Q0), 0L)
    // the Q and step after the batch it names (None: before any batch),
    // carried so that a contiguous batch reads no state from disk
    var carried = (Option.empty[Long], q0)
    rewardStream(spark, srcDir, segRows, maxFilesPerTrigger)
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val prior = qStates.newestBefore(batchId)
        // a copy: policyStep updates Q in place, and the carried Q
        // advances only once this batch's writes have returned
        val (q, start) =
          if (prior == carried._1) (carried._2._1.clone(), carried._2._2)
          else prior.fold(q0) { _ =>
            val r = qStates.read(prior.toSeq, QStateSchema).head()
            (r.getSeq[Double](0).toArray, r.getLong(1))
          }
        var step = start
        // bounded by the micro-batch (trigger-capped), not the stream
        val rows = batch.orderBy("signal_id", "seg").collect()
        val decided = rows.map { r =>
          step += 1
          val rewards = Array(r.getDouble(2), r.getDouble(3),
            r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7),
            r.getDouble(8))
          val (arm, explored, rew, qAfter) =
            graft.ml.Bandit.policyStep(q, step, rewards, arms)
          (r.getLong(0), r.getLong(1), step, arm, explored, rew, qAfter)
        }
        decisions.write(decided.toSeq
          .toDF("signal_id", "seg", "step", "codec", "explored",
            "reward_raw", "q_raw")
          .select(col("signal_id"), col("seg"), col("step"), col("codec"),
            col("explored"), round(col("reward_raw"), 6).as("reward"),
            round(col("q_raw"), 6).as("q_after")), batchId)
        qStates.write(Seq((q.toSeq, step)).toDF("q", "step"), batchId)
        carried = (Some(batchId), (q, step))
      }
      .start()
  }
}
