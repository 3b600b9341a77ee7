package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Readings.OracleCte

/** Driver-facing registrations for the lossy tier ladder, segment ML and
  * multimodal ops. Deterministic/SQL-expressible tiers carry oracles; the
  * Breeze-FFT, LTTB, kernel and binary-payload paths are rows-only +
  * ScalaTest error-bound properties (reference tolerance style,
  * segment.rs:882-893).
  */
object TierQueries {

  private def r(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorFunctions.ensureRegistered(s)
    Readings.of(s, d)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "tier_paa_max" -> ((s, d) => Tiers.paaMax(r(s, d), 4)),

    "tier_rrd" -> ((s, d) => Tiers.rrdTier(r(s, d), 4)),

    "tier_recode_plan" -> ((s, d) => Tiers.recodePlan(r(s, d), 4, 0.5)),

    // the closed feedback loop: measured per-segment PAA error joined into
    // the recode decision (reference buffer_pool.rs:940-1260 reward flow);
    // errBudget=80 sits at the sf corpus's median segment error so the
    // policy genuinely splits (roughly half the segments keep their tier)
    "tier_policy" -> ((s, d) =>
      Tiers.recodePlanWithFeedback(r(s, d), 4, 0.5, errBudget = 80.0)),

    // byte-budget LRU buffer plan (buffer_pool.rs:720-1260): recency-
    // ranked segments charged cumulatively against a byte budget; past it,
    // the measured-error feedback splits lossy recode from exact spill.
    // The cumulative charge is a distributed two-phase prefix sum (see
    // Tiers.lruPlan) — no global single-partition window. Budget 32 KiB ~
    // 40% of the sf0.01 raw bytes, errBudget at the corpus median, so all
    // three actions are populated.
    "tier_lru_plan" -> ((s, d) =>
      Tiers.lruPlan(r(s, d), 4, budgetBytes = 32768L, errBudget = 80.0)),

    // two ladder passes (PAA w=4, then pairwise chunk merge) — proven
    // bit-identical to one PAA pass at w=8 because the tier carries exact
    // fixed-point chunk sums (the oracle computes the direct w=8 PAA)
    "tier_ladder" -> ((s, d) =>
      Tiers.rePaaChunks(Tiers.paaChunks(r(s, d), 4), 2)
        .select(col("signal_id"), col("chunk"), col("sq"), col("cnt"),
          col("chunk_mean"))),

    // PLA tier (the reference lossy menu's Pla(ratio) arm): per-window
    // least-squares line from exact integer moments + max residual
    "tier_pla" -> ((s, d) => Tiers.plaTier(r(s, d), 8)),

    // sum/avg SERVED FROM the cold chunk tier: the exact fixed-point
    // chunk sums make the lossy tier answer sum queries exactly (the
    // oracle aggregates the same chunk sums; equal to raw-readings sum)
    "tier_cold_sum" -> ((s, d) =>
      TierManager.sumFromChunks(Tiers.paaChunks(r(s, d), 4))),

    "tier_fft_err" -> ((s, d) =>
      Tiers.fftError(Segments.complete(r(s, d)), keep = 4)
        .select(col("signal_id"), col("seg"), round(col("err"), 6).as("err"))),

    "tier_lttb" -> ((s, d) =>
      Tiers.lttbTier(Segments.complete(r(s, d)), npts = 6)
        .withColumn("err", round(col("err"), 6))),

    // rounded to 6 digits so the exact-compare oracle is robust to the
    // last-ulp libm/fold-order differences between JVM and DuckDB
    "seg_kernel_rbf" -> ((s, d) => {
      val segs = Segments.complete(r(s, d))
      val dict = segs.filter(col("signal_id") < 2 && col("seg") === 0)
        .orderBy(col("signal_id"))
        .collect().map(_.getSeq[Double](2).toSeq).toSeq
      SegmentMl.rbfFeatures(segs, dict, gamma = 0.001)
        .select(col("signal_id"), col("seg"),
          round(col("k0"), 6).as("k0"), round(col("k1"), 6).as("k1"))
    }),

    "seg_knn" -> ((s, d) =>
      SegmentMl.knnSegments(Segments.complete(r(s, d)), testSignals = Seq(0L, 1L, 2L))),

    // 1-NN on PAA-REDUCED segments (the reference's reduced-input kNN
    // flavor, knn/mod.rs:85-308): each 16-row segment becomes 4 chunk
    // means derived from the EXACT fixed-point chunk sums, then the same
    // deterministic ranking as seg_knn — 4x less distance arithmetic and
    // a 4x smaller broadcast, the classic accuracy/cost dial
    "seg_knn_paa" -> ((s, d) => {
      val red = Tiers.paaChunks(r(s, d), 4)
        .filter(col("cnt") === 4)
        .withColumn("seg", floor(col("chunk") / 4.0).cast("long"))
        .groupBy(col("signal_id"), col("seg"))
        .agg(count(lit(1)).as("nch"),
          array_sort(collect_list(struct(col("chunk"), col("chunk_mean")))).as("ms"))
        .filter(col("nch") === 4)
        .select(col("signal_id"), col("seg"),
          transform(col("ms"), m => m.getField("chunk_mean")).as("values"))
      SegmentMl.knnSegments(red, testSignals = Seq(0L, 1L, 2L))
    }),

    // GRAIL-reduced 1-NN (knn/mod.rs:85-308's GRAIL flavor, completing
    // the reduced-input menu: full / PAA / FFT / GRAIL / DTW): segments
    // reduced to their SINK kernel features against the 2-segment
    // dictionary, ranked in the 2-d feature space. Features are the
    // 6dp-rounded k0/k1 both engines prove exactly equal, so distances
    // agree exactly.
    "seg_knn_grail" -> ((s, d) => {
      val feats = queries("seg_kernel_sink")(s, d)
        .select(col("signal_id"), col("seg"),
          array(col("k0"), col("k1")).as("values"))
      SegmentMl.knnSegments(feats, testSignals = Seq(0L, 1L, 2L))
    }),

    // 1-NN on FFT-REDUCED segments — the Fourier flavor of the reference's
    // reduced-input kNN menu (knn/mod.rs:85-308), completing it next to
    // the PAA and DTW flavors: each 16-point segment becomes its 8
    // truncated-spectrum features (keep=4 coefficient pairs), then the
    // same deterministic ranking as seg_knn. The oracle recomputes the
    // spectrum as direct DFT sums (no FFT needed for 4 coefficients) and
    // folds the squared distance in the same interleaved term order.
    "seg_knn_fft" -> ((s, d) =>
      SegmentMl.knnSegments(
        Tiers.fftReduced(Segments.complete(r(s, d)), keep = 4),
        testSignals = Seq(0L, 1L, 2L))),

    // accuracy gate for the FFT tier: fraction of test segments whose
    // spectral 1-NN prediction agrees with the full-resolution 1-NN —
    // same ships-with-its-quality pattern as seg_knn_paa_agree
    "seg_knn_fft_agree" -> ((s, d) => {
      val full = queries("seg_knn")(s, d)
        .select(col("test_sig"), col("test_seg"), col("pred_sig"))
      val fft = queries("seg_knn_fft")(s, d)
        .select(col("test_sig"), col("test_seg"),
          col("pred_sig").as("fft_pred"))
      full.join(fft, Seq("test_sig", "test_seg"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("pred_sig") === col("fft_pred"), 1L).otherwise(0L))
            .cast("long").as("n_agree"))
        .withColumn("agree",
          round(col("n_agree").cast("double") / col("n").cast("double"), 4))
    }),

    // elastic-distance 1-NN: exact banded DTW in the fixed-point domain,
    // LB_Keogh-pruned; oracle = the full DP unrolled per band row into
    // chained list-CTEs (all-integer, so it matches bit-for-bit)
    "seg_knn_dtw" -> ((s, d) =>
      SegmentMl.dtwKnn(Segments.completeQuantized(r(s, d)),
        testSignals = Seq(0L, 1L, 2L), band = DtwBandWidth)),

    // how much accuracy does the 4x-cheaper PAA tier give up? fraction
    // of test segments whose PAA 1-NN prediction agrees with the
    // full-resolution 1-NN — the lossyML accuracy sweep's summary row
    // (reference lossyML/src/main.rs), same pattern as the ann_*_recall
    // gates: the approximation ships WITH its measured quality.
    // On the i.i.d.-noise testdata the measured agreement is ~0 — in
    // structureless data the nearest neighbor among ~550 candidates is
    // decided by noise the 4x smoothing removes, so the metric correctly
    // reports "don't serve 1-NN from the PAA tier here"; on real shaped
    // series (UCR-style) PAA-kNN is the standard accuracy/cost point.
    // The VALUE is oracle-checked either way.
    "seg_knn_paa_agree" -> ((s, d) => {
      val full = queries("seg_knn")(s, d)
        .select(col("test_sig"), col("test_seg"), col("pred_sig"))
      val paa = queries("seg_knn_paa")(s, d)
        .select(col("test_sig"), col("test_seg"),
          col("pred_sig").as("paa_pred"))
      full.join(paa, Seq("test_sig", "test_seg"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("pred_sig") === col("paa_pred"), 1L).otherwise(0L))
            .cast("long").as("n_agree"))
        .withColumn("agree",
          round(col("n_agree").cast("double") / col("n").cast("double"), 4))
    }),

    // discord discovery (Keogh's anomaly-as-farthest-segment, the batch
    // flavor of the reference's outlier concern, outlier/mod.rs): per
    // signal, the complete segment whose nearest-neighbor distance to the
    // signal's OTHER segments is largest. Exact integer squared L2 in the
    // fixed-point domain; size-routed (see MotifDiscord): short histories
    // take the direct per-signal self-join, while any signal past
    // PruneAbove segments switches the job to adjacent-pair thresholds +
    // a chunk-sum grid — identical results, sub-quadratic candidate
    // pairs, so retention growth doesn't concentrate m² work in single
    // join partitions. The oracle remains the all-pairs definition.
    "seg_discord" -> ((s, d) =>
      MotifDiscord.discord(Segments.completeQuantized(r(s, d)))),

    // motif discovery (Lin/Keogh, the discord's dual): per signal, the
    // CLOSEST pair of complete segments — the recurring pattern. Same
    // exact integer squared-L2, same size-routed enumeration (pruned
    // best-so-far = min adjacent-pair distance), same all-pairs oracle.
    "seg_motif" -> ((s, d) =>
      MotifDiscord.motif(Segments.completeQuantized(r(s, d)))),

    // top-3 motifs per signal (the k-motif result shape): the pruned
    // route's threshold is the k-th smallest ADJACENT distance — itself
    // the distance of k valid pairs, so it bounds the k-th closest pair
    "seg_motif_topk" -> ((s, d) =>
      MotifDiscord.motifTopK(Segments.completeQuantized(r(s, d)), k = 3)),

    // the full matrix profile (Yeh et al. ICDM'16, segment granularity):
    // every segment's exact NN distance — the anomaly/repetition signal
    // the discord/motif queries are the argmax/argmin of. Same routed
    // enumeration, same all-pairs oracle minus the rank filter.
    "seg_profile" -> ((s, d) =>
      MotifDiscord.profile(Segments.completeQuantized(r(s, d)))),

    // top-3 discords per signal — HOT SAX's reported result shape
    "seg_discord_topk" -> ((s, d) =>
      MotifDiscord.discordTopK(Segments.completeQuantized(r(s, d)), k = 3)),

    // SAMPLED profile — the anytime escape hatch for the inherently
    // dense regime (ARCHITECTURE.md adversarial measurement): exact nnd
    // upper bound against the hash-chosen quarter of each signal's
    // segments; hash-derived, so the oracle recomputes it exactly
    "seg_profile_sampled" -> ((s, d) =>
      MotifDiscord.profileSampled(
        Segments.completeQuantized(r(s, d)), mod = 4)),

    // INCREMENTAL profile maintenance proven against the full recompute:
    // the first half of each signal's segments play the persisted
    // profile, the second half arrive as the "new batch"; the engine
    // path is O(m*delta) cross distances + O(delta^2) within-batch, and
    // the oracle recomputes the whole profile from scratch — equality IS
    // the incremental-correctness statement (STAMPI at segment
    // granularity)
    "seg_profile_inc" -> ((s, d) => {
      val segs = Segments.completeQuantized(r(s, d)).localCheckpoint()
      val cut = segs.groupBy(col("signal_id"))
        .agg((max(col("seg")) / 2).cast("long").as("cut"))
      val marked = segs.join(broadcast(cut), "signal_id")
      val existing = marked.filter(col("seg") <= col("cut")).drop("cut")
      val fresh = marked.filter(col("seg") > col("cut")).drop("cut")
      MotifDiscord.profileIncrement(existing,
        MotifDiscord.profile(existing), fresh)
    }),

    // the cost-based ROUTING PLAN for the profile family: per signal,
    // segment/duplicate/representative counts plus the EXACT pre-filter
    // cardinality of the pruned route's grid join (folded from per-cell
    // counts in O(m), never materialized) and the resulting route
    // decision — the optimizer-style step that turns the dense regime
    // into a measured choice. Pure integer function of the data, so the
    // oracle recomputes the whole plan
    "seg_profile_route" -> ((s, d) =>
      MotifDiscord.routePlan(Segments.completeQuantized(r(s, d)))),

    // the ROUTED profile: exact (direct/pruned) wherever the plan's
    // measured candidate count allows, the sampled upper bound only
    // where the data is inherently dense; the `exact` column carries
    // the per-row truth status
    "seg_profile_auto" -> ((s, d) =>
      MotifDiscord.profileAuto(Segments.completeQuantized(r(s, d)))),

    // the ROUTED discord: argmax of the routed profile per signal with
    // the exact flag carried — the serving shape of the reference's
    // "most anomalous segment" question when some histories are dense
    "seg_discord_auto" -> ((s, d) =>
      MotifDiscord.discordAuto(Segments.completeQuantized(r(s, d)))),

    // SAX symbolic words (Lin et al., "A Symbolic Representation of Time
    // Series", DMKD'07): z-normalize per signal from EXACT integer moments
    // (the ts_zscore decimal pattern), PAA over 4-row chunks from exact
    // chunk sums, discretize at the N(0,1) quartile breakpoints into
    // alphabet {a,b,c,d}, concatenate 4 chunks per 16-row segment. Both
    // engines derive every double from the same integer divisions, so the
    // breakpoint comparisons agree exactly
    "tier_sax" -> ((s, d) => {
      val rr = r(s, d)
      val q18 = col("value_q").cast("decimal(18,0)")
      val stats = rr.groupBy(col("signal_id"))
        .agg(count(lit(1)).as("n"),
          sum(col("value_q")).cast("long").as("s1"),
          sum(q18 * q18).cast("decimal(38,0)").as("s2"))
        .withColumn("mean_q", col("s1").cast("double") / col("n").cast("double"))
        .withColumn("var_q",
          col("s2").cast("double") / col("n").cast("double") -
            col("mean_q") * col("mean_q"))
        .where(col("var_q") > 0.0)
        .select(col("signal_id"), col("mean_q"), col("var_q"))
      Tiers.paaChunks(rr, 4)
        .join(broadcast(stats), "signal_id")
        .withColumn("z",
          (col("sq").cast("double") / col("cnt").cast("double") - col("mean_q")) /
            sqrt(col("var_q")))
        .withColumn("letter",
          when(col("z") < -0.6745, "a").when(col("z") < 0.0, "b")
            .when(col("z") < 0.6745, "c").otherwise("d"))
        .groupBy(col("signal_id"), floor(col("chunk") / 4.0).cast("long").as("seg"))
        .agg(
          array_join(transform(
            array_sort(collect_list(struct(col("chunk"), col("letter")))),
            p => p.getField("letter")), "").as("word"),
          count(lit(1)).as("nch"), min(col("cnt")).as("mc"))
        .filter(col("nch") === 4 && col("mc") === 4)
        .select(col("signal_id"), col("seg"), col("word"))
    }),

    // the iSAX-index use of the words (Shieh & Keogh, KDD'08): bucket
    // segments by SAX word ACROSS signals — words holding >= 2 segments
    // are the motif-candidate buckets an iSAX index serves without any
    // distance computation. One keyed aggregation over the word tier.
    "tier_sax_lookup" -> ((s, d) =>
      queries("tier_sax")(s, d)
        .groupBy(col("word"))
        .agg(count(lit(1)).as("n_segs"),
          countDistinct(col("signal_id")).cast("long").as("n_signals"),
          min(col("signal_id")).as("first_sig"))
        .filter(col("n_segs") >= 2L)),

    "storage_codec_cr" -> ((s, d) => graft.ml.FitCache.putDf(s, s"codecMatrix:$d")(
      graft.sources.CodecStore.compressionMatrix(r(s, d)))),

    // hash-exact companion to storage_codec_cr (the same treatment the
    // three ML dumps got): the matrix's BYTES stay machine-measured (no
    // SQL oracle can re-measure a file), but its structure is pinned —
    // every (codec, repr) cell present, every byte count positive, the
    // cr column exactly bytes/baseline-bytes (same IEEE operands on both
    // computations), and the three native segment codecs decode back
    // bit-exactly over every segment. Reuses storage_codec_cr's
    // published matrix when that query already ran this session, so the
    // bench row's work depends on sweep order (sf0.1, local[4]: 15 jobs
    // after storage_codec_cr, 53 run alone).
    "storage_codec_cr_check" -> ((s, d) => {
      import s.implicits._
      import graft.functions.CodecFunctions._
      val matrix = graft.ml.FitCache.getOrFitDf(s, s"codecMatrix:$d")(
        graft.sources.CodecStore.compressionMatrix(r(s, d)))
      val expected = (for {
        repr <- Seq("double", "fixed_q", "delta_q")
        codec <- graft.sources.CodecStore.Codecs
      } yield (codec, repr)) ++ Seq(
        ("uncompressed", "buff_planes"), ("zstd", "buff_planes"),
        ("uncompressed", "buff_outlier"), ("zstd", "buff_outlier"),
        ("native", "gorilla_seg"), ("native", "sprintz_seg"),
        ("native", "fcm_seg"))
      val nExpected = expected.size.toLong
      val missing = expected.toDF("codec", "repr")
        .join(matrix, Seq("codec", "repr"), "left_anti").count()
      // extra/unexpected matrix rows are a violation too — left_anti in
      // the other direction only catches ABSENT rows
      val extra = matrix
        .join(expected.toDF("codec", "repr"), Seq("codec", "repr"),
          "left_anti").count()
      val nonPositive = matrix.where(col("bytes") <= 0L).count()
      // an absent uncompressed/double baseline must surface as the
      // expected_rows_present violation it already counts as, not kill
      // the check with NoSuchElementException — with no baseline every
      // cr is unverifiable, so the arithmetic invariant flags all rows
      val baselineOpt = matrix
        .where(col("codec") === "uncompressed" && col("repr") === "double")
        .select(col("bytes")).collect().headOption.map(_.getLong(0).toDouble)
      val crBad = baselineOpt match {
        case Some(baseline) => matrix
          .where(col("cr") =!= col("bytes").cast("double") / lit(baseline))
          .count()
        case None => matrix.count()
      }
      val q = transform(col("values"), v => floor(v * lit(100)).cast("long"))
      val rt = Segments.of(r(s, d)).select(
          ((gorillaDecode(gorillaEncode(col("values"))) === col("values")) &&
            (sprintzDecode(sprintzEncode(q)) === q) &&
            (fcmDecode(fcmEncode(q)) === q)).as("ok"))
        .agg(count(lit(1)).as("n"),
          sum(when(!col("ok"), 1L).otherwise(0L)).as("v")).head()
      Seq(
        ("expected_rows_present", missing, nExpected),
        ("no_unexpected_rows", extra, nExpected),
        ("bytes_positive", nonPositive, nExpected),
        ("cr_arithmetic_closes", crBad, nExpected),
        ("native_roundtrip_bitexact", rt.getLong(1), rt.getLong(0)))
        .toDF("invariant", "violations", "support")
    }),

    // OPTIMIZE-style compaction lifecycle (buffer_pool.rs persistence +
    // file_handler.rs): land a deliberately fragmented store, compact it
    // to target-size clustered files, read it BACK and aggregate — the
    // oracle proves the rewrite is lossless (file counts are asserted in
    // CompactorSpec; this query verifies the data contract)
    "storage_compact" -> ((s, d) => {
      val base = java.nio.file.Files
        .createTempDirectory("graft-compact").toString + "/store"
      r(s, d).repartition(48).write.mode("overwrite").parquet(base)
      graft.sources.Compactor.compact(s, base, targetBytes = 4L << 20,
        sortCols = Seq("signal_id", "seq_no"))
      s.read.parquet(base).groupBy(col("signal_id"))
        .agg(sum(col("value_q")).cast("long").as("sum_q"),
          count(lit(1)).as("cnt"))
    }),

    // MERGE-style correction upsert end to end: land tier0, apply a
    // deterministic correction batch (each low signal's first reading
    // bumped by +1000 fixed-point units), and emit the post-upsert
    // per-signal sums — the oracle recomputes the same sums from the raw
    // table with the correction expressed as a CASE. Only the touched
    // sig_bucket partitions rewrite; TierManagerSpec asserts the
    // bounded-rewrite, stats-patch, and idempotence invariants.
    "storage_upsert" -> ((s, d) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft-upsert-q").toString
      val tm = new TierManager(s, root)
      // one seq_no derivation: rr feeds the tier0 land (data + stats
      // passes) and the correction batch — unmaterialized, the
      // window-over-events subtree executed three times in this query.
      // SIZE-GATED (Materialize.shared): the landed readings are
      // O(corpus), so past the threshold the materialization stages to
      // parquet instead of pinning executor storage
      val rr = Materialize.shared(r(s, d))
      tm.landTier0(rr)
      val corr = rr.filter(col("signal_id") < 3 && col("seq_no") === 1L)
        .withColumn("value", col("value") + 1000.0)
        .withColumn("value_q", col("value_q") + 100000L)
      tm.upsertCorrections(corr)
      s.read.parquet(tm.tier0).groupBy(col("signal_id"))
        .agg(sum(col("value_q")).cast("long").as("sum_q"),
          count(lit(1)).as("cnt"))
    }),

    "seg_kernel_sink" -> ((s, d) => {
      val segs = Segments.complete(r(s, d))
      val dict = segs.filter(col("signal_id") < 2 && col("seg") === 0)
        .orderBy(col("signal_id"))
        .collect().map(_.getSeq[Double](2).toArray).toSeq
      SegmentMl.sinkFeatures(segs, dict, gamma = 1.0, keep = 4)
        .select(col("signal_id"), col("seg"),
          round(col("k0"), 6).as("k0"), round(col("k1"), 6).as("k1"))
    }),

    // array feature columns are emitted as CSV digest strings: the driver's
    // comparator (pandas sort + hash) cannot order ndarray cells, and a
    // digest makes the byte-histogram/frame-checksum oracle expressible
    "mm_features" -> ((s, d) =>
      Multimodal.byteHistogram(Multimodal.withPayload(Tables.documents(s, d)))
        .select(col("doc_id"), col("n_bytes"),
          concat_ws(",", col("hist16").cast("array<string>")).as("hist16_csv"))),

    "mm_frames" -> ((s, d) =>
      Multimodal.frameSample(Multimodal.withPayload(Tables.documents(s, d)),
        frameBytes = 16, stride = 2)
        .select(col("doc_id"), col("n_frames"), col("n_sampled"),
          concat_ws(",", col("frame_sums").cast("array<string>")).as("frames_csv"))),

    // binary-blob exact dedup: content-hash group-by over the payload
    // column (only 32-byte hashes shuffle, never blob bytes)
    "mm_dedup_exact" -> ((s, d) =>
      Multimodal.contentDedup(
        Multimodal.withPayload(Tables.documents(s, d)))),

    // binary-blob NEAR-dup: banded MinHash over byte-16-gram hash sets +
    // exact Jaccard confirm — the locality rung above mm_dedup_exact
    // (catches blobs differing in a few bytes); candidate generation is
    // the band equi-join, never all-pairs
    "mm_near_dup" -> ((s, d) =>
      Multimodal.nearDupBlobs(
        Multimodal.withPayload(Tables.documents(s, d)), n = 16,
        threshold = 0.5)),

    // winnowed blob near-dup: bounded fingerprints (~|blob|/16) + an
    // EXHAUSTIVE postings join on the fingerprint value — the cheap
    // rung above mm_near_dup for large blobs (both the candidate join
    // and the confirm do ~16x less work per blob)
    "mm_near_dup_winnow" -> ((s, d) =>
      Multimodal.nearDupBlobsWinnow(
        Multimodal.withPayload(Tables.documents(s, d)), n = 16, w = 16,
        threshold = 0.5)),

    // LTTB keypoint summary: endpoint/count columns are deterministic
    // (first/last always kept, n_pts = min(npts, len)) -> oracle-able,
    // unlike the float triangle-area err column in tier_lttb
    "tier_lttb_summary" -> ((s, d) =>
      Tiers.lttbTier(Segments.complete(r(s, d)), npts = 6)
        .select(col("signal_id"), col("seg"), col("n_pts"),
          col("first_v"), col("last_v"))),

    // BUFF byte-plane progressive range filter (split_double.rs /
    // buff_simd.rs:4507-4681): base-offset plane decomposition, then the
    // plane-by-plane refinement union — position-list result, exactly the
    // raw range predicate. Bounds chosen mid-domain so every leg (strict
    // decide at each level + full-depth tie) is exercised.
    "buff_range" -> ((s, d) => {
      val rd = r(s, d)
      val base = rd.agg(min(col("value_q"))).first().getLong(0)
      val pl = graft.sources.BuffStore.planes(rd, base, 3)
      graft.sources.BuffStore.rangeProgressive(pl, base, 3, 12345L, 34567L)
    }),

    // BUFF plane-wise exact sum (buff_simd.rs:2294-2442): per-plane byte
    // sums scaled by the plane shift + cnt*base — integer-exact, equal to
    // sum(value_q) per signal
    "buff_sum" -> ((s, d) => {
      val rd = r(s, d)
      val base = rd.agg(min(col("value_q"))).first().getLong(0)
      val pl = graft.sources.BuffStore.planes(rd, base, 3)
      graft.sources.BuffStore.sumFromPlanes(pl, base, 3)
    }),

    // BUFF progressive max with argmax positions (buff_simd.rs:2444-2862):
    // lexicographic fold over the plane struct = plane-major refinement;
    // result is every position attaining the global max, with the value
    "buff_max_argmax" -> ((s, d) => {
      val rd = r(s, d)
      val base = rd.agg(min(col("value_q"))).first().getLong(0)
      val pl = graft.sources.BuffStore.planes(rd, base, 3)
      graft.sources.BuffStore.maxWithArgmax(pl, base, 3)
    }),

    // BUFF precision-progressive sum (split_double.rs:2949): fold only
    // the top 2 of 3 planes + a count-based hard error bound — the
    // oracle recomputes the same truncated sum in SQL, so the
    // approximation CONTRACT (not just the answer) is verified
    "buff_sum_prefix" -> ((s, d) => {
      val rd = r(s, d)
      val base = rd.agg(min(col("value_q"))).first().getLong(0)
      val pl = graft.sources.BuffStore.planes(rd, base, 3)
      graft.sources.BuffStore.sumFromPlanesPrefix(pl, base, 3, 2)
    }),

    // BUFF majority/outlier sub-column coding (buff_simd.rs:317-632): the
    // >=60%-skewed planes store one majority byte + exceptions (NULLs for
    // majority rows in the Parquet layout); the progressive range filter
    // runs UNCHANGED over the restored plane view — position-list result
    // equal to the raw predicate, proving the outlier-coded store serves
    // the same compressed-domain queries
    "buff_range_outlier" -> ((s, d) => {
      // one seq_no derivation, KEPT only on the outlier-coded rows
      // (measured r15: the majority/exception encoding consumes the
      // plane frame 4-5x so materializing wins; on the plain-plane rows
      // the checkpoint cost exceeded the one saved window and was
      // reverted)
      val rd = r(s, d).localCheckpoint()
      val base = rd.agg(min(col("value_q"))).first().getLong(0)
      val pl = graft.sources.BuffStore.planes(rd, base, 3)
      val (enc, maj) = graft.sources.BuffStore.outlierEncode(pl, 3)
      graft.sources.BuffStore.rangeProgressive(
        graft.sources.BuffStore.restore(enc, maj, 3), base, 3, 20000L, 45000L)
    }),

    // exact per-signal sum answered DIRECTLY from the outlier-coded form
    // (majority-sum shortcut: maj_i * n_majority + sum of exceptions) —
    // no restore, no full-plane scan of coded planes
    "buff_sum_outlier" -> ((s, d) => {
      val rd = r(s, d)
      val base = rd.agg(min(col("value_q"))).first().getLong(0)
      val pl = graft.sources.BuffStore.planes(rd, base, 3)
      val (enc, maj) = graft.sources.BuffStore.outlierEncode(pl, 3)
      graft.sources.BuffStore.sumFromOutlierPlanes(enc, maj, base, 3)
    }),

    // max+argmax answered DIRECTLY from the outlier-coded form (the
    // reference's majority-path max, buff_simd.rs:2863): lexicographic
    // plane fold over coalesce(exception, majority byte) — no restore
    // projection, scan I/O is exception bytes + definition levels only
    "buff_max_outlier" -> ((s, d) => {
      // one seq_no derivation, KEPT only on the outlier-coded rows
      // (measured r15: the majority/exception encoding consumes the
      // plane frame 4-5x so materializing wins; on the plain-plane rows
      // the checkpoint cost exceeded the one saved window and was
      // reverted)
      val rd = r(s, d).localCheckpoint()
      val base = rd.agg(min(col("value_q"))).first().getLong(0)
      val pl = graft.sources.BuffStore.planes(rd, base, 3)
      val (enc, maj) = graft.sources.BuffStore.outlierEncode(pl, 3)
      graft.sources.BuffStore.maxFromOutlierPlanes(enc, maj, base, 3)
    }),

    // Gorilla XOR codec (gorilla.rs:19-447, public VLDB'15 scheme): encode
    // each segment array, answer max FROM THE COMPRESSED FORM, and prove
    // the roundtrip bit-exact in the same row — all map-only expressions
    "codec_gorilla" -> ((s, d) => {
      import graft.functions.CodecFunctions._
      Segments.of(r(s, d))
        .select(col("signal_id"), col("seg"), col("cnt"),
          gorillaMax(gorillaEncode(col("values"))).as("vmax"),
          (gorillaDecode(gorillaEncode(col("values"))) === col("values"))
            .as("roundtrip_ok"))
    }),

    // Sprintz delta-zigzag-bitpack codec (sprintz.rs:14-392) over the
    // fixed-point domain: exact sum from the compressed form
    "codec_sprintz" -> ((s, d) => {
      import graft.functions.CodecFunctions._
      val q = transform(col("values"), v => floor(v * 100).cast("long"))
      Segments.of(r(s, d))
        .select(col("signal_id"), col("seg"), col("cnt"),
          sprintzSum(sprintzEncode(q)).as("sum_q"))
    }),

    // GorillaBD (gorilla.rs:450-848): precision-bound the values FIRST
    // (the reference's PrecisionBound fixed-point pass), then Gorilla —
    // the quantized doubles XOR to far fewer significant bits, so the
    // same codec compresses harder. Composition of the existing quantize
    // + gorilla expressions; roundtrip + compressed-domain max per segment
    "codec_gorilla_bd" -> ((s, d) => {
      import graft.functions.CodecFunctions._
      val bd = transform(col("values"), v => floor(v * 100).cast("double"))
      Segments.of(r(s, d))
        .select(col("signal_id"), col("seg"), col("cnt"),
          gorillaMax(gorillaEncode(bd)).as("max_q"),
          (gorillaDecode(gorillaEncode(bd)) === bd).as("roundtrip_ok"))
    }),

    // BP plain block bit-packing (methods/compress.rs:177-291) — no delta:
    // the codec for small-LEVEL signals; exact sum AND max from the
    // compressed form (compress.rs:1053/:1252)
    "codec_bp" -> ((s, d) => {
      import graft.functions.CodecFunctions._
      val q = transform(col("values"), v => floor(v * 100).cast("long"))
      Segments.of(r(s, d))
        .select(col("signal_id"), col("seg"), col("cnt"),
          bpSum(bpEncode(q)).as("sum_q"),
          bpMax(bpEncode(q)).as("max_q"),
          (bpDecode(bpEncode(q)) === q).as("roundtrip_ok"))
    }),

    // FCM/DFCM hash-predictor XOR codec (methods/compress.rs:83-176,
    // fcm_encoder.rs; FPC scheme) — the last Methods-enum family: dual
    // value/delta predictors, XOR residuals, per-segment state reset;
    // exact sum/max in one sequential compressed-domain pass
    "codec_fcm" -> ((s, d) => {
      import graft.functions.CodecFunctions._
      val q = transform(col("values"), v => floor(v * 100).cast("long"))
      Segments.of(r(s, d))
        .select(col("signal_id"), col("seg"), col("cnt"),
          fcmSum(fcmEncode(q)).as("sum_q"),
          fcmMax(fcmEncode(q)).as("max_q"),
          (fcmDecode(fcmEncode(q)) === q).as("roundtrip_ok"))
    })
  )

  /** Sakoe-Chiba band width for the DTW 1-NN (segments are 16 points; a
    * quarter-length band is the classic default).
    */
  val DtwBandWidth = 4

  /** DuckDB oracle for seg_knn_dtw: the banded DTW DP unrolled row-by-row
    * into chained CTEs over BIGINT lists — exact integer arithmetic, the
    * same recurrence as graft.functions.Dtw.distance.
    *
    * Per DP row i the standard recurrence cur(j) = c(i,j) + min(prev(j),
    * prev(j-1), cur(j-1)) is rewritten with prefix sums S to kill the
    * within-row sequential dependency (cur(j) = S(j) + min_{k<=j}(g(k) -
    * S(k-1)), g = min of the valid prev-row neighbors) so each row is one
    * vectorized projection instead of a 9-deep lateral-alias chain.
    */
  private def dtwOracleSql: String = {
    val n = Readings.SegmentRows.toInt
    val band = DtwBandWidth
    def bounds(i: Int): (Int, Int) = (math.max(1, i - band), math.min(n, i + band))
    val ctes = new StringBuilder
    var prevRel = "p"
    for (i <- 1 to n) {
      val (lo, hi) = bounds(i)
      val w = hi - lo + 1
      val costs = (lo to hi).map(j => s"abs(tq[$i] - rq[$j])")
      val cs = (1 to w).map(q => costs.take(q).mkString(" + ")).mkString("[", ", ", "]")
      if (i == 1) {
        ctes ++= s"d$i AS (SELECT *, $cs AS dp FROM $prevRel)"
      } else {
        val (plo, phi) = bounds(i - 1)
        val g = (lo to hi).map { j =>
          val terms = Seq(j, j - 1).filter(k => k >= plo && k <= phi)
            .map(k => s"dp[${k - plo + 1}]")
          if (terms.size == 1) terms.head else s"least(${terms.mkString(", ")})"
        }.mkString("[", ", ", "]")
        ctes ++= s"e$i AS (SELECT *, $cs AS cs, $g AS g FROM $prevRel),\n"
        val dp = (1 to w).map { q =>
          val args = (1 to q).map(k =>
            if (k == 1) "g[1]" else s"g[$k] - cs[${k - 1}]")
          val inner = if (args.size == 1) args.head else s"least(${args.mkString(", ")})"
          s"cs[$q] + $inner"
        }.mkString("[", ", ", "]")
        ctes ++= s"d$i AS (SELECT * EXCLUDE (dp, cs, g), $dp AS dp FROM e$i)"
      }
      if (i < n) ctes ++= ",\n"
      prevRel = s"d$i"
    }
    val (flo, fhi) = bounds(n)
    s"""$OracleCte, segs AS (
       |  SELECT signal_id, CAST(floor((seq_no - 1) / $n.0) AS BIGINT) AS seg,
       |         list(value_q ORDER BY seq_no) AS qv, count(*) AS cnt
       |  FROM r GROUP BY 1, 2
       |), f AS (
       |  SELECT signal_id, seg, qv::BIGINT[] AS qv FROM segs WHERE cnt = $n
       |), t AS (
       |  SELECT signal_id AS test_sig, seg AS test_seg, qv AS tq
       |  FROM f WHERE signal_id IN (0, 1, 2)
       |), tr AS (
       |  SELECT signal_id AS train_sig, seg AS train_seg, qv AS rq
       |  FROM f WHERE signal_id NOT IN (0, 1, 2)
       |), p AS (
       |  SELECT test_sig, test_seg, train_sig, train_seg, tq, rq FROM t, tr
       |),
       |${ctes.result()},
       |sc AS (
       |  SELECT test_sig, test_seg, train_sig, train_seg,
       |         CAST(dp[${fhi - flo + 1}] AS BIGINT) AS dist_q
       |  FROM d$n
       |), rk AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY test_sig, test_seg
       |    ORDER BY dist_q, train_sig, train_seg) AS rnk
       |  FROM sc
       |)
       |SELECT test_sig, test_seg, train_sig AS pred_sig, dist_q
       |FROM rk WHERE rnk = 1""".stripMargin
  }

  /** Explicit integer squared-L2 between 16-point BIGINT lists `qa`/`qb`
    * (generated term list keeps the oracle free of nested comprehensions).
    */
  private def sqDistQSql: String =
    (1 to Readings.SegmentRows.toInt)
      .map(i => s"(qa[$i] - qb[$i]) * (qa[$i] - qb[$i])").mkString(" + ")

  /** CTE chain replicating MotifDiscord.routePlan from the
    * complete-segment frame `f` (signal_id, seg, qv) to a `plan` CTE
    * (signal_id, m, n_dup, n_reps, grid_pairs, route). Integer-exact
    * throughout: the cell is the same pmod floor division as the Spark
    * side, and the pair count folds per-cell counts — the oracle proves
    * the ESTIMATE itself, not just the routed result.
    */
  private def routePlanCteSql: String = {
    val adjDist = (1 to Readings.SegmentRows.toInt)
      .map(i => s"(a.qv[$i] - b.qv[$i]) * (a.qv[$i] - b.qv[$i])")
      .mkString(" + ")
    s"""g AS (
       |  SELECT signal_id, seg, qv,
       |         row_number() OVER (
       |           PARTITION BY signal_id, qv ORDER BY seg) AS grk,
       |         count(*) OVER (PARTITION BY signal_id, qv) AS gcnt
       |  FROM f
       |), cnts AS (
       |  SELECT signal_id, CAST(count(*) AS BIGINT) AS m,
       |         CAST(sum(CASE WHEN gcnt >= 2 THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_dup,
       |         CAST(sum(CASE WHEN grk = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_reps
       |  FROM g GROUP BY 1
       |), rkd AS (
       |  SELECT signal_id, seg, qv,
       |         row_number() OVER (
       |           PARTITION BY signal_id ORDER BY seg) AS rk
       |  FROM f
       |), adjt AS (
       |  SELECT a.signal_id, CAST(max($adjDist) AS BIGINT) AS t
       |  FROM rkd a
       |  JOIN rkd b ON a.signal_id = b.signal_id AND b.rk = a.rk + 1
       |  GROUP BY 1
       |), ww AS (
       |  SELECT signal_id,
       |         CAST(floor(2.0 * sqrt(CAST(t AS DOUBLE))) + 1 AS BIGINT) AS w
       |  FROM adjt
       |), s0c AS (
       |  SELECT gs.signal_id, gs.seg, gs.grk, gs.gcnt,
       |         CAST((s0 - ((s0 % w) + w) % w) / w AS BIGINT) AS cell
       |  FROM (SELECT signal_id, seg, grk, gcnt,
       |          CAST(qv[1] + qv[2] + qv[3] + qv[4] AS BIGINT) AS s0
       |        FROM g) gs
       |  JOIN ww USING (signal_id)
       |), ac AS (
       |  SELECT signal_id, cell, CAST(count(*) AS BIGINT) AS ca
       |  FROM (SELECT signal_id, unnest([cell - 1, cell, cell + 1]) AS cell
       |        FROM s0c WHERE gcnt = 1)
       |  GROUP BY 1, 2
       |), bc AS (
       |  SELECT signal_id, cell, CAST(count(*) AS BIGINT) AS cb
       |  FROM s0c WHERE grk = 1 GROUP BY 1, 2
       |), grid AS (
       |  SELECT signal_id, CAST(sum(ca * cb) AS BIGINT) AS grid_pairs
       |  FROM ac JOIN bc USING (signal_id, cell) GROUP BY 1
       |), plan AS (
       |  SELECT cnts.signal_id, m, n_dup, n_reps,
       |         CAST(COALESCE(grid_pairs, 0) AS BIGINT) AS grid_pairs,
       |         CASE WHEN m <= ${MotifDiscord.PruneAbove} THEN 'direct'
       |              WHEN COALESCE(grid_pairs, 0) <= ${MotifDiscord.RouteBudget}
       |                THEN 'pruned'
       |              ELSE 'sampled' END AS route
       |  FROM cnts LEFT JOIN grid USING (signal_id)
       |)""".stripMargin
  }

  private def saxSql: String =
    s"""$OracleCte, st AS (
         |  SELECT signal_id, CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(value_q) AS BIGINT) AS s1,
         |         CAST(sum(value_q * value_q) AS BIGINT) AS s2
         |  FROM r GROUP BY 1
         |), m AS (
         |  SELECT signal_id,
         |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean_q,
         |    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) -
         |      (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) *
         |      (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) AS var_q
         |  FROM st
         |), c AS (
         |  SELECT signal_id, CAST(floor((seq_no - 1) / 4.0) AS BIGINT) AS chunk,
         |         CAST(sum(value_q) AS BIGINT) AS sq, CAST(count(*) AS BIGINT) AS cnt
         |  FROM r GROUP BY 1, 2
         |), l AS (
         |  SELECT c.signal_id, chunk, cnt,
         |    CASE WHEN (CAST(sq AS DOUBLE) / CAST(cnt AS DOUBLE) - mean_q) / sqrt(var_q) < -0.6745 THEN 'a'
         |         WHEN (CAST(sq AS DOUBLE) / CAST(cnt AS DOUBLE) - mean_q) / sqrt(var_q) < 0.0 THEN 'b'
         |         WHEN (CAST(sq AS DOUBLE) / CAST(cnt AS DOUBLE) - mean_q) / sqrt(var_q) < 0.6745 THEN 'c'
         |         ELSE 'd' END AS letter
         |  FROM c JOIN m USING (signal_id)
         |  WHERE var_q > 0.0
         |), w AS (
         |  SELECT signal_id, CAST(floor(chunk / 4.0) AS BIGINT) AS seg,
         |         string_agg(letter, '' ORDER BY chunk) AS word,
         |         CAST(count(*) AS BIGINT) AS nch, CAST(min(cnt) AS BIGINT) AS mc
         |  FROM l GROUP BY 1, 2
         |)
         |SELECT signal_id, seg, word FROM w WHERE nch = 4 AND mc = 4""".stripMargin

  /** Shared CTE chain for the FFT-reduced 1-NN oracle: complete segments →
    * first-4 DFT coefficients as direct trig sums (no FFT needed) → winner
    * per test segment. The squared distance flattens (re, im) terms in the
    * same interleaved order as the engine's graft_sqdist fold.
    */
  private def fftKnnSql(finalSelect: String): String =
    s"""$OracleCte, segs AS (
       |  SELECT signal_id, CAST(floor((seq_no - 1) / 16.0) AS BIGINT) AS seg,
       |         list(value ORDER BY seq_no) AS vals, count(*) AS cnt
       |  FROM r GROUP BY 1, 2
       |), f AS (
       |  SELECT signal_id, seg, vals::DOUBLE[] AS vals FROM segs WHERE cnt = 16
       |), ks AS (SELECT unnest([0, 1, 2, 3]) AS k),
       |sx AS (
       |  SELECT f.signal_id, f.seg, ks.k,
       |    list_sum([f.vals[m]*cos(2*pi()*(m-1)*ks.k/16.0) for m in range(1,17)]) AS xr,
       |    -list_sum([f.vals[m]*sin(2*pi()*(m-1)*ks.k/16.0) for m in range(1,17)]) AS xi
       |  FROM f, ks
       |), fv AS (
       |  SELECT signal_id, seg, list(xr ORDER BY k) AS xrs, list(xi ORDER BY k) AS xis
       |  FROM sx GROUP BY 1, 2
       |), t AS (
       |  SELECT signal_id AS test_sig, seg AS test_seg, xrs AS txr, xis AS txi
       |  FROM fv WHERE signal_id IN (0, 1, 2)
       |), tr AS (
       |  SELECT signal_id AS train_sig, seg AS train_seg, xrs AS rxr, xis AS rxi
       |  FROM fv WHERE signal_id NOT IN (0, 1, 2)
       |), sdist AS (
       |  SELECT test_sig, test_seg, train_sig, train_seg,
       |    round(sqrt(list_sum(flatten(
       |      [[(txr[i]-rxr[i])*(txr[i]-rxr[i]),
       |        (txi[i]-rxi[i])*(txi[i]-rxi[i])] for i in range(1,5)]))), 6) AS dist
       |  FROM t, tr
       |), rk AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY test_sig, test_seg
       |    ORDER BY dist, train_sig, train_seg) AS rnk
       |  FROM sdist
       |)
       |$finalSelect""".stripMargin

  /** Shared CTE chain computing each complete segment's 6dp-rounded
    * SINK kernel features (k0, k1) vs the 2-segment dictionary - ends in
    * CTE `feat`; reused by the kernel-feature oracle and the
    * GRAIL-reduced 1-NN oracle.
    */
  private def sinkFeatureChainSql: String =
    s"""$OracleCte, segs AS (
         |  SELECT signal_id, CAST(floor((seq_no - 1) / 16.0) AS BIGINT) AS seg,
         |         list(value ORDER BY seq_no) AS vals, count(*) AS cnt
         |  FROM r GROUP BY 1, 2
         |), f AS (
         |  SELECT signal_id, seg, vals::DOUBLE[] AS vals FROM segs WHERE cnt = 16
         |), d AS (
         |  SELECT signal_id AS di, vals AS dv FROM f WHERE signal_id IN (0, 1) AND seg = 0
         |), ks AS (SELECT unnest([0,1,2,3,28,29,30,31]) AS k),
         |js AS (SELECT unnest(list_concat(range(0,16), range(17,32))) AS j),
         |sx AS (
         |  SELECT f.signal_id, f.seg, ks.k,
         |    list_sum([f.vals[m]*cos(2*pi()*(m-1)*ks.k/32.0) for m in range(1,17)]) AS xr,
         |    -list_sum([f.vals[m]*sin(2*pi()*(m-1)*ks.k/32.0) for m in range(1,17)]) AS xi
         |  FROM f, ks
         |), sd AS (
         |  SELECT d.di, ks.k,
         |    list_sum([d.dv[m]*cos(2*pi()*(m-1)*ks.k/32.0) for m in range(1,17)]) AS dr,
         |    -list_sum([d.dv[m]*sin(2*pi()*(m-1)*ks.k/32.0) for m in range(1,17)]) AS dmi
         |  FROM d, ks
         |), nx AS (
         |  SELECT signal_id, seg, sqrt(list_sum([v*v for v in vals])) AS nrm FROM f
         |), nd AS (
         |  SELECT di, sqrt(list_sum([v*v for v in dv])) AS nrm FROM d
         |), ccxd AS (
         |  SELECT sx.signal_id, sx.seg, sd.di, js.j,
         |    sum((sx.xr*sd.dr + sx.xi*sd.dmi) * cos(2*pi()*js.j*sx.k/32.0)
         |      - (sx.xi*sd.dr - sx.xr*sd.dmi) * sin(2*pi()*js.j*sx.k/32.0)) / 32.0 AS cc
         |  FROM sx JOIN sd ON sx.k = sd.k, js
         |  GROUP BY 1, 2, 3, 4
         |), sumxd AS (
         |  SELECT c.signal_id, c.seg, c.di, sum(exp(c.cc / (nx.nrm * nd.nrm))) AS se
         |  FROM ccxd c JOIN nx USING (signal_id, seg) JOIN nd ON c.di = nd.di
         |  GROUP BY 1, 2, 3
         |), ccxx AS (
         |  SELECT sx.signal_id, sx.seg, js.j,
         |    sum((sx.xr*sx.xr + sx.xi*sx.xi) * cos(2*pi()*js.j*sx.k/32.0)) / 32.0 AS cc
         |  FROM sx, js GROUP BY 1, 2, 3
         |), sumxx AS (
         |  SELECT c.signal_id, c.seg, sum(exp(c.cc / (nx.nrm * nx.nrm))) AS se
         |  FROM ccxx c JOIN nx USING (signal_id, seg) GROUP BY 1, 2
         |), ccdd AS (
         |  SELECT sd.di, js.j,
         |    sum((sd.dr*sd.dr + sd.dmi*sd.dmi) * cos(2*pi()*js.j*sd.k/32.0)) / 32.0 AS cc
         |  FROM sd, js GROUP BY 1, 2
         |), sumdd AS (
         |  SELECT c.di, sum(exp(c.cc / (nd.nrm * nd.nrm))) AS se
         |  FROM ccdd c JOIN nd USING (di) GROUP BY 1
         |), sink AS (
         |  SELECT x.signal_id, x.seg, x.di, x.se / sqrt(xx.se * dd.se) AS s
         |  FROM sumxd x JOIN sumxx xx USING (signal_id, seg) JOIN sumdd dd ON x.di = dd.di
         |), feat AS (
         |  SELECT signal_id, seg,
         |    round(max(CASE WHEN di = 0 THEN s END), 6) AS k0,
         |    round(max(CASE WHEN di = 1 THEN s END), 6) AS k1
         |  FROM sink GROUP BY 1, 2
         |)""".stripMargin

  val oracles: Map[String, String] = Map(
    "seg_knn_dtw" -> dtwOracleSql,

    "seg_knn_fft" -> fftKnnSql(
      """SELECT test_sig, test_seg, train_sig AS pred_sig, dist
        |FROM rk WHERE rnk = 1""".stripMargin),

    // full-resolution winner vs FFT winner, joined and summarized — the
    // same shape as seg_knn_paa_agree's oracle
    "seg_knn_fft_agree" -> fftKnnSql(
      """, pw AS (
        |  SELECT test_sig, test_seg, train_sig AS fft_pred FROM rk WHERE rnk = 1
        |), fs AS (
        |  SELECT t2.signal_id AS test_sig, t2.seg AS test_seg,
        |         tr2.signal_id AS train_sig, tr2.seg AS train_seg,
        |         round(list_distance(t2.vals, tr2.vals), 6) AS dist
        |  FROM f t2, f tr2
        |  WHERE t2.signal_id IN (0, 1, 2) AND tr2.signal_id NOT IN (0, 1, 2)
        |), frk AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY test_sig, test_seg
        |    ORDER BY dist, train_sig, train_seg) AS rnk
        |  FROM fs
        |), fw AS (
        |  SELECT test_sig, test_seg, train_sig AS pred FROM frk WHERE rnk = 1
        |), j AS (
        |  SELECT fw.test_sig, fw.test_seg, pred, fft_pred
        |  FROM fw JOIN pw USING (test_sig, test_seg)
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN pred = fft_pred THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_agree,
        |  round(CAST(sum(CASE WHEN pred = fft_pred THEN 1 ELSE 0 END) AS DOUBLE) /
        |        CAST(count(*) AS DOUBLE), 4) AS agree
        |FROM j""".stripMargin),

    "seg_discord" ->
      s"""$OracleCte, segs AS (
         |  SELECT signal_id, CAST(floor((seq_no - 1) / 16.0) AS BIGINT) AS seg,
         |         list(value_q ORDER BY seq_no) AS qv, count(*) AS cnt
         |  FROM r GROUP BY 1, 2
         |), f AS (
         |  SELECT signal_id, seg, qv::BIGINT[] AS qv FROM segs WHERE cnt = 16
         |), nnd AS (
         |  SELECT a.signal_id, a.seg AS seg_a,
         |         CAST(min($sqDistQSql) AS BIGINT) AS nnd_q
         |  FROM (SELECT signal_id, seg, qv AS qa FROM f) a
         |  JOIN (SELECT signal_id, seg AS seg_b, qv AS qb FROM f) b
         |    USING (signal_id)
         |  WHERE a.seg <> b.seg_b
         |  GROUP BY 1, 2
         |), rk AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY signal_id ORDER BY nnd_q DESC, seg_a) AS rnk
         |  FROM nnd
         |)
         |SELECT signal_id, seg_a AS seg, nnd_q FROM rk WHERE rnk = 1""".stripMargin,

    // the incremental path must equal the from-scratch profile — the
    // oracle IS the full recompute (same SQL as seg_profile)
    "seg_profile_inc" ->
      s"""$OracleCte, segs AS (
         |  SELECT signal_id, CAST(floor((seq_no - 1) / 16.0) AS BIGINT) AS seg,
         |         list(value_q ORDER BY seq_no) AS qv, count(*) AS cnt
         |  FROM r GROUP BY 1, 2
         |), f AS (
         |  SELECT signal_id, seg, qv::BIGINT[] AS qv FROM segs WHERE cnt = 16
         |)
         |SELECT a.signal_id, a.seg AS seg,
         |       CAST(min($sqDistQSql) AS BIGINT) AS nnd_q
         |FROM (SELECT signal_id, seg, qv AS qa FROM f) a
         |JOIN (SELECT signal_id, seg AS seg_b, qv AS qb FROM f) b
         |  USING (signal_id)
         |WHERE a.seg <> b.seg_b
         |GROUP BY 1, 2""".stripMargin,

    "seg_profile" ->
      s"""$OracleCte, segs AS (
         |  SELECT signal_id, CAST(floor((seq_no - 1) / 16.0) AS BIGINT) AS seg,
         |         list(value_q ORDER BY seq_no) AS qv, count(*) AS cnt
         |  FROM r GROUP BY 1, 2
         |), f AS (
         |  SELECT signal_id, seg, qv::BIGINT[] AS qv FROM segs WHERE cnt = 16
         |)
         |SELECT a.signal_id, a.seg AS seg,
         |       CAST(min($sqDistQSql) AS BIGINT) AS nnd_q
         |FROM (SELECT signal_id, seg, qv AS qa FROM f) a
         |JOIN (SELECT signal_id, seg AS seg_b, qv AS qb FROM f) b
         |  USING (signal_id)
         |WHERE a.seg <> b.seg_b
         |GROUP BY 1, 2""".stripMargin,

    "seg_profile_sampled" ->
      s"""$OracleCte, segs AS (
         |  SELECT signal_id, CAST(floor((seq_no - 1) / 16.0) AS BIGINT) AS seg,
         |         list(value_q ORDER BY seq_no) AS qv, count(*) AS cnt
         |  FROM r GROUP BY 1, 2
         |), f AS (
         |  SELECT signal_id, seg, qv::BIGINT[] AS qv FROM segs WHERE cnt = 16
         |), refs AS (
         |  -- the per-signal TWO lowest-seg segments are always references:
         |  -- every multi-segment signal gets upper-bound rows (the two
         |  -- forced refs cover each other) and the forced set is stable
         |  -- under appends (mirrors MotifDiscord.sampledRefs)
         |  SELECT signal_id, seg AS seg_b, qv AS qb
         |  FROM (SELECT signal_id, seg, qv,
         |          ${graft.functions.TextOps.fnv32Sql(
               "'ps:' || CAST(signal_id AS VARCHAR) || ':' || CAST(seg AS VARCHAR)")} AS h,
         |          row_number() OVER (PARTITION BY signal_id ORDER BY seg)
         |            AS srk
         |        FROM f)
         |  WHERE h % 4 = 0 OR srk <= 2
         |)
         |SELECT a.signal_id, a.seg AS seg,
         |       CAST(min($sqDistQSql) AS BIGINT) AS nnd_ub_q
         |FROM (SELECT signal_id, seg, qv AS qa FROM f) a
         |JOIN refs b USING (signal_id)
         |WHERE a.seg <> b.seg_b
         |GROUP BY 1, 2""".stripMargin,

    // the routing plan recomputed end to end: duplicate-group window,
    // adjacent-pair threshold, grid cells by pmod floor division,
    // 3-exploded singleton counts x representative counts per cell, and
    // the same (pruneAbove, budget) CASE as MotifDiscord.routePlan
    "seg_profile_route" ->
      s"""$OracleCte, segs AS (
         |  SELECT signal_id, CAST(floor((seq_no - 1) / 16.0) AS BIGINT) AS seg,
         |         list(value_q ORDER BY seq_no) AS qv, count(*) AS cnt
         |  FROM r GROUP BY 1, 2
         |), f AS (
         |  SELECT signal_id, seg, qv::BIGINT[] AS qv FROM segs WHERE cnt = 16
         |), $routePlanCteSql
         |SELECT signal_id, m, n_dup, n_reps, grid_pairs, route
         |FROM plan""".stripMargin,

    // the routed profile: per-signal route from the plan CTE; exact
    // brute-force nnd for direct/pruned signals, the fnv-sampled upper
    // bound for dense signals — with the per-row truth flag
    "seg_profile_auto" ->
      s"""$OracleCte, segs AS (
         |  SELECT signal_id, CAST(floor((seq_no - 1) / 16.0) AS BIGINT) AS seg,
         |         list(value_q ORDER BY seq_no) AS qv, count(*) AS cnt
         |  FROM r GROUP BY 1, 2
         |), f AS (
         |  SELECT signal_id, seg, qv::BIGINT[] AS qv FROM segs WHERE cnt = 16
         |), $routePlanCteSql, refs AS (
         |  -- the per-signal TWO lowest-seg segments are always references:
         |  -- every multi-segment signal gets upper-bound rows (the two
         |  -- forced refs cover each other) and the forced set is stable
         |  -- under appends (mirrors MotifDiscord.sampledRefs)
         |  SELECT signal_id, seg AS seg_b, qv AS qb
         |  FROM (SELECT signal_id, seg, qv,
         |          ${graft.functions.TextOps.fnv32Sql(
               "'ps:' || CAST(signal_id AS VARCHAR) || ':' || CAST(seg AS VARCHAR)")} AS h,
         |          row_number() OVER (PARTITION BY signal_id ORDER BY seg)
         |            AS srk
         |        FROM f)
         |  WHERE h % 4 = 0 OR srk <= 2
         |), ex AS (
         |  SELECT a.signal_id, a.seg AS seg,
         |         CAST(min($sqDistQSql) AS BIGINT) AS nnd_q
         |  FROM (SELECT f.signal_id, f.seg, qv AS qa
         |        FROM f JOIN plan USING (signal_id)
         |        WHERE route <> 'sampled') a
         |  JOIN (SELECT signal_id, seg AS seg_b, qv AS qb FROM f) b
         |    USING (signal_id)
         |  WHERE a.seg <> b.seg_b
         |  GROUP BY 1, 2
         |), sp AS (
         |  SELECT a.signal_id, a.seg AS seg,
         |         CAST(min($sqDistQSql) AS BIGINT) AS nnd_q
         |  FROM (SELECT f.signal_id, f.seg, qv AS qa
         |        FROM f JOIN plan USING (signal_id)
         |        WHERE route = 'sampled') a
         |  JOIN refs b USING (signal_id)
         |  WHERE a.seg <> b.seg_b
         |  GROUP BY 1, 2
         |)
         |SELECT signal_id, seg, nnd_q, TRUE AS exact FROM ex
         |UNION ALL
         |SELECT signal_id, seg, nnd_q, FALSE AS exact FROM sp""".stripMargin,

    // routed discord = the seg_profile_auto oracle + per-signal argmax
    // (nnd_q DESC, seg) — same deterministic tie-break on both engines
    "seg_discord_auto" ->
      s"""$OracleCte, segs AS (
         |  SELECT signal_id, CAST(floor((seq_no - 1) / 16.0) AS BIGINT) AS seg,
         |         list(value_q ORDER BY seq_no) AS qv, count(*) AS cnt
         |  FROM r GROUP BY 1, 2
         |), f AS (
         |  SELECT signal_id, seg, qv::BIGINT[] AS qv FROM segs WHERE cnt = 16
         |), $routePlanCteSql, refs AS (
         |  -- the per-signal TWO lowest-seg segments are always references:
         |  -- every multi-segment signal gets upper-bound rows (the two
         |  -- forced refs cover each other) and the forced set is stable
         |  -- under appends (mirrors MotifDiscord.sampledRefs)
         |  SELECT signal_id, seg AS seg_b, qv AS qb
         |  FROM (SELECT signal_id, seg, qv,
         |          ${graft.functions.TextOps.fnv32Sql(
               "'ps:' || CAST(signal_id AS VARCHAR) || ':' || CAST(seg AS VARCHAR)")} AS h,
         |          row_number() OVER (PARTITION BY signal_id ORDER BY seg)
         |            AS srk
         |        FROM f)
         |  WHERE h % 4 = 0 OR srk <= 2
         |), ex AS (
         |  SELECT a.signal_id, a.seg AS seg,
         |         CAST(min($sqDistQSql) AS BIGINT) AS nnd_q
         |  FROM (SELECT f.signal_id, f.seg, qv AS qa
         |        FROM f JOIN plan USING (signal_id)
         |        WHERE route <> 'sampled') a
         |  JOIN (SELECT signal_id, seg AS seg_b, qv AS qb FROM f) b
         |    USING (signal_id)
         |  WHERE a.seg <> b.seg_b
         |  GROUP BY 1, 2
         |), sp AS (
         |  SELECT a.signal_id, a.seg AS seg,
         |         CAST(min($sqDistQSql) AS BIGINT) AS nnd_q
         |  FROM (SELECT f.signal_id, f.seg, qv AS qa
         |        FROM f JOIN plan USING (signal_id)
         |        WHERE route = 'sampled') a
         |  JOIN refs b USING (signal_id)
         |  WHERE a.seg <> b.seg_b
         |  GROUP BY 1, 2
         |), pa AS (
         |  SELECT signal_id, seg, nnd_q, TRUE AS exact FROM ex
         |  UNION ALL
         |  SELECT signal_id, seg, nnd_q, FALSE AS exact FROM sp
         |)
         |SELECT signal_id, seg, nnd_q, exact FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY signal_id ORDER BY nnd_q DESC, seg) AS rn
         |  FROM pa)
         |WHERE rn = 1""".stripMargin,

    "seg_discord_topk" ->
      s"""$OracleCte, segs AS (
         |  SELECT signal_id, CAST(floor((seq_no - 1) / 16.0) AS BIGINT) AS seg,
         |         list(value_q ORDER BY seq_no) AS qv, count(*) AS cnt
         |  FROM r GROUP BY 1, 2
         |), f AS (
         |  SELECT signal_id, seg, qv::BIGINT[] AS qv FROM segs WHERE cnt = 16
         |), nnd AS (
         |  SELECT a.signal_id, a.seg AS seg,
         |         CAST(min($sqDistQSql) AS BIGINT) AS nnd_q
         |  FROM (SELECT signal_id, seg, qv AS qa FROM f) a
         |  JOIN (SELECT signal_id, seg AS seg_b, qv AS qb FROM f) b
         |    USING (signal_id)
         |  WHERE a.seg <> b.seg_b
         |  GROUP BY 1, 2
         |), rk AS (
         |  SELECT *, CAST(row_number() OVER (
         |    PARTITION BY signal_id ORDER BY nnd_q DESC, seg) AS INT) AS rnk
         |  FROM nnd
         |)
         |SELECT signal_id, seg, nnd_q, rnk FROM rk WHERE rnk <= 3""".stripMargin,

    "seg_motif_topk" ->
      s"""$OracleCte, segs AS (
         |  SELECT signal_id, CAST(floor((seq_no - 1) / 16.0) AS BIGINT) AS seg,
         |         list(value_q ORDER BY seq_no) AS qv, count(*) AS cnt
         |  FROM r GROUP BY 1, 2
         |), f AS (
         |  SELECT signal_id, seg, qv::BIGINT[] AS qv FROM segs WHERE cnt = 16
         |), pr AS (
         |  SELECT a.signal_id, a.seg AS seg_a, b.seg_b,
         |         CAST($sqDistQSql AS BIGINT) AS dist_q
         |  FROM (SELECT signal_id, seg, qv AS qa FROM f) a
         |  JOIN (SELECT signal_id, seg AS seg_b, qv AS qb FROM f) b
         |    USING (signal_id)
         |  WHERE a.seg < b.seg_b
         |), rk AS (
         |  SELECT *, CAST(row_number() OVER (
         |    PARTITION BY signal_id ORDER BY dist_q, seg_a, seg_b) AS INT) AS rnk
         |  FROM pr
         |)
         |SELECT signal_id, seg_a, seg_b, dist_q, rnk FROM rk WHERE rnk <= 3""".stripMargin,

    "seg_motif" ->
      s"""$OracleCte, segs AS (
         |  SELECT signal_id, CAST(floor((seq_no - 1) / 16.0) AS BIGINT) AS seg,
         |         list(value_q ORDER BY seq_no) AS qv, count(*) AS cnt
         |  FROM r GROUP BY 1, 2
         |), f AS (
         |  SELECT signal_id, seg, qv::BIGINT[] AS qv FROM segs WHERE cnt = 16
         |), pr AS (
         |  SELECT a.signal_id, a.seg AS seg_a, b.seg_b,
         |         CAST($sqDistQSql AS BIGINT) AS dist_q
         |  FROM (SELECT signal_id, seg, qv AS qa FROM f) a
         |  JOIN (SELECT signal_id, seg AS seg_b, qv AS qb FROM f) b
         |    USING (signal_id)
         |  WHERE a.seg < b.seg_b
         |), rk AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY signal_id ORDER BY dist_q, seg_a, seg_b) AS rnk
         |  FROM pr
         |)
         |SELECT signal_id, seg_a, seg_b, dist_q FROM rk WHERE rnk = 1""".stripMargin,

    "tier_sax" -> saxSql,

    "tier_sax_lookup" ->
      s"""WITH sax AS (
         |$saxSql
         |)
         |SELECT word, CAST(count(*) AS BIGINT) AS n_segs,
         |  CAST(count(DISTINCT signal_id) AS BIGINT) AS n_signals,
         |  CAST(min(signal_id) AS BIGINT) AS first_sig
         |FROM sax GROUP BY 1 HAVING count(*) >= 2""".stripMargin,
    "buff_range" ->
      s"""$OracleCte SELECT signal_id, seq_no FROM r
         |WHERE value_q BETWEEN 12345 AND 34567""".stripMargin,

    "buff_sum" ->
      s"""$OracleCte SELECT signal_id, CAST(sum(value_q) AS BIGINT) AS sum_q,
         |  CAST(count(*) AS BIGINT) AS cnt FROM r GROUP BY signal_id""".stripMargin,

    "buff_range_outlier" ->
      s"""$OracleCte SELECT signal_id, seq_no FROM r
         |WHERE value_q BETWEEN 20000 AND 45000""".stripMargin,

    "buff_sum_outlier" ->
      s"""$OracleCte SELECT signal_id, CAST(sum(value_q) AS BIGINT) AS sum_q,
         |  CAST(count(*) AS BIGINT) AS cnt FROM r GROUP BY signal_id""".stripMargin,

    "buff_max_argmax" ->
      s"""$OracleCte SELECT signal_id, seq_no, value_q FROM r
         |WHERE value_q = (SELECT max(value_q) FROM r)""".stripMargin,

    "buff_max_outlier" ->
      s"""$OracleCte SELECT signal_id, seq_no, value_q FROM r
         |WHERE value_q = (SELECT max(value_q) FROM r)""".stripMargin,

    "storage_compact" ->
      s"""$OracleCte SELECT signal_id, CAST(sum(value_q) AS BIGINT) AS sum_q,
         |  CAST(count(*) AS BIGINT) AS cnt FROM r GROUP BY signal_id""".stripMargin,

    // pins the codec matrix's structure: zero violations everywhere, with
    // the constant supports (3 reprs x 4 parquet codecs + 4 BUFF plane
    // rows + 3 native rows = 19) and the roundtrip support recomputed as
    // the segment count from the base table — the bytes themselves stay
    // machine-measured in storage_codec_cr
    "storage_codec_cr_check" ->
      s"""$OracleCte, segs AS (
         |  SELECT signal_id, CAST(floor((seq_no - 1) / 16.0) AS BIGINT) AS seg
         |  FROM r GROUP BY 1, 2
         |)
         |SELECT 'expected_rows_present' AS invariant,
         |       CAST(0 AS BIGINT) AS violations, CAST(19 AS BIGINT) AS support
         |UNION ALL SELECT 'no_unexpected_rows', CAST(0 AS BIGINT),
         |  CAST(19 AS BIGINT)
         |UNION ALL SELECT 'bytes_positive', CAST(0 AS BIGINT), CAST(19 AS BIGINT)
         |UNION ALL SELECT 'cr_arithmetic_closes', CAST(0 AS BIGINT),
         |  CAST(19 AS BIGINT)
         |UNION ALL SELECT 'native_roundtrip_bitexact', CAST(0 AS BIGINT),
         |  (SELECT CAST(count(*) AS BIGINT) FROM segs)""".stripMargin,

    "storage_upsert" ->
      s"""$OracleCte SELECT signal_id,
         |  CAST(sum(CASE WHEN signal_id < 3 AND seq_no = 1
         |                THEN value_q + 100000 ELSE value_q END) AS BIGINT)
         |    AS sum_q,
         |  CAST(count(*) AS BIGINT) AS cnt
         |FROM r GROUP BY signal_id""".stripMargin,

    "buff_sum_prefix" ->
      s"""$OracleCte, b AS (SELECT min(value_q) AS m FROM r)
         |SELECT signal_id,
         |  CAST(sum(((value_q - m) // 256) * 256) + count(*) * min(m) AS BIGINT)
         |    AS sum_lo,
         |  CAST(count(*) * 255 AS BIGINT) AS err_bound,
         |  CAST(count(*) AS BIGINT) AS cnt
         |FROM r, b GROUP BY signal_id""".stripMargin,

    "codec_gorilla" ->
      s"""$OracleCte SELECT signal_id,
         |  CAST(floor((seq_no - 1) / 16.0) AS BIGINT) AS seg,
         |  CAST(count(*) AS BIGINT) AS cnt, max(value) AS vmax,
         |  true AS roundtrip_ok
         |FROM r GROUP BY 1, 2""".stripMargin,

    "codec_sprintz" ->
      s"""$OracleCte SELECT signal_id,
         |  CAST(floor((seq_no - 1) / 16.0) AS BIGINT) AS seg,
         |  CAST(count(*) AS BIGINT) AS cnt,
         |  CAST(sum(value_q) AS BIGINT) AS sum_q
         |FROM r GROUP BY 1, 2""".stripMargin,

    "codec_gorilla_bd" ->
      s"""$OracleCte SELECT signal_id,
         |  CAST(floor((seq_no - 1) / 16.0) AS BIGINT) AS seg,
         |  CAST(count(*) AS BIGINT) AS cnt,
         |  max(CAST(value_q AS DOUBLE)) AS max_q,
         |  true AS roundtrip_ok
         |FROM r GROUP BY 1, 2""".stripMargin,

    "codec_bp" ->
      s"""$OracleCte SELECT signal_id,
         |  CAST(floor((seq_no - 1) / 16.0) AS BIGINT) AS seg,
         |  CAST(count(*) AS BIGINT) AS cnt,
         |  CAST(sum(value_q) AS BIGINT) AS sum_q,
         |  CAST(max(value_q) AS BIGINT) AS max_q,
         |  true AS roundtrip_ok
         |FROM r GROUP BY 1, 2""".stripMargin,

    "codec_fcm" ->
      s"""$OracleCte SELECT signal_id,
         |  CAST(floor((seq_no - 1) / 16.0) AS BIGINT) AS seg,
         |  CAST(count(*) AS BIGINT) AS cnt,
         |  CAST(sum(value_q) AS BIGINT) AS sum_q,
         |  CAST(max(value_q) AS BIGINT) AS max_q,
         |  true AS roundtrip_ok
         |FROM r GROUP BY 1, 2""".stripMargin,

    "tier_paa_max" ->
      s"""$OracleCte, c AS (
         |  SELECT signal_id, CAST(floor((seq_no - 1) / 4.0) AS BIGINT) AS chunk,
         |         CAST(sum(value_q) AS BIGINT) AS sq, CAST(count(*) AS BIGINT) AS cnt
         |  FROM r GROUP BY 1, 2
         |)
         |SELECT signal_id,
         |  max(CAST(sq AS DOUBLE) / (100.0 * CAST(cnt AS DOUBLE))) AS paa_max
         |FROM c GROUP BY 1""".stripMargin,

    "tier_rrd" ->
      s"""$OracleCte SELECT signal_id, seq_no, value FROM r
         |WHERE (seq_no - 1) % 4 = 0""".stripMargin,

    "tier_cold_sum" ->
      s"""$OracleCte, c AS (
         |  SELECT signal_id, CAST(floor((seq_no - 1) / 4.0) AS BIGINT) AS chunk,
         |         CAST(sum(value_q) AS BIGINT) AS sq, CAST(count(*) AS BIGINT) AS cnt
         |  FROM r GROUP BY 1, 2
         |)
         |SELECT signal_id, CAST(sum(sq) AS BIGINT) AS sum_q,
         |  CAST(sum(cnt) AS BIGINT) AS cnt,
         |  round(CAST(sum(sq) AS DOUBLE) / (100.0 * CAST(sum(cnt) AS DOUBLE)), 6) AS avg_v
         |FROM c GROUP BY 1""".stripMargin,

    "seg_knn" ->
      s"""$OracleCte, segs AS (
         |  SELECT signal_id, CAST(floor((seq_no - 1) / 16.0) AS BIGINT) AS seg,
         |         list(value ORDER BY seq_no) AS vals, count(*) AS cnt
         |  FROM r GROUP BY 1, 2
         |), f AS (
         |  SELECT signal_id, seg, vals::DOUBLE[] AS vals FROM segs WHERE cnt = 16
         |), t AS (
         |  SELECT signal_id AS test_sig, seg AS test_seg, vals AS tv
         |  FROM f WHERE signal_id IN (0, 1, 2)
         |), tr AS (
         |  SELECT signal_id AS train_sig, seg AS train_seg, vals AS rv
         |  FROM f WHERE signal_id NOT IN (0, 1, 2)
         |), s AS (
         |  SELECT test_sig, test_seg, train_sig, train_seg,
         |         round(list_distance(tv, rv), 6) AS dist
         |  FROM t, tr
         |), rk AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY test_sig, test_seg
         |    ORDER BY dist, train_sig, train_seg) AS rnk
         |  FROM s
         |)
         |SELECT test_sig, test_seg, train_sig AS pred_sig, dist
         |FROM rk WHERE rnk = 1""".stripMargin,

    "seg_knn_paa_agree" ->
      s"""$OracleCte, segs AS (
         |  SELECT signal_id, CAST(floor((seq_no - 1) / 16.0) AS BIGINT) AS seg,
         |         list(value ORDER BY seq_no) AS vals, count(*) AS cnt
         |  FROM r GROUP BY 1, 2
         |), ff AS (
         |  SELECT signal_id, seg, vals::DOUBLE[] AS vals FROM segs WHERE cnt = 16
         |), ft AS (
         |  SELECT signal_id AS test_sig, seg AS test_seg, vals AS tv
         |  FROM ff WHERE signal_id IN (0, 1, 2)
         |), ftr AS (
         |  SELECT signal_id AS train_sig, seg AS train_seg, vals AS rv
         |  FROM ff WHERE signal_id NOT IN (0, 1, 2)
         |), fs AS (
         |  SELECT test_sig, test_seg, train_sig, train_seg,
         |         round(list_distance(tv, rv), 6) AS dist
         |  FROM ft, ftr
         |), frk AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY test_sig, test_seg
         |    ORDER BY dist, train_sig, train_seg) AS rnk
         |  FROM fs
         |), fw AS (
         |  SELECT test_sig, test_seg, train_sig AS pred FROM frk WHERE rnk = 1
         |), ch AS (
         |  SELECT signal_id, CAST(floor((seq_no - 1) / 4.0) AS BIGINT) AS chunk,
         |         CAST(sum(value_q) AS BIGINT) AS sq,
         |         CAST(count(*) AS BIGINT) AS cnt
         |  FROM r GROUP BY 1, 2
         |), cm AS (
         |  SELECT signal_id, chunk, CAST(floor(chunk / 4.0) AS BIGINT) AS seg,
         |         CAST(sq AS DOUBLE) / (100.0 * CAST(cnt AS DOUBLE)) AS m
         |  FROM ch WHERE cnt = 4
         |), segv AS (
         |  SELECT signal_id, seg, list(m ORDER BY chunk) AS vals
         |  FROM cm GROUP BY 1, 2 HAVING count(*) = 4
         |), pt AS (
         |  SELECT signal_id AS test_sig, seg AS test_seg, vals AS tv
         |  FROM segv WHERE signal_id IN (0, 1, 2)
         |), ptr AS (
         |  SELECT signal_id AS train_sig, seg AS train_seg, vals AS rv
         |  FROM segv WHERE signal_id NOT IN (0, 1, 2)
         |), ps AS (
         |  SELECT test_sig, test_seg, train_sig, train_seg,
         |         round(list_distance(tv, rv), 6) AS dist
         |  FROM pt, ptr
         |), prk AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY test_sig, test_seg
         |    ORDER BY dist, train_sig, train_seg) AS rnk
         |  FROM ps
         |), pw AS (
         |  SELECT test_sig, test_seg, train_sig AS paa_pred
         |  FROM prk WHERE rnk = 1
         |), j AS (
         |  SELECT fw.test_sig, fw.test_seg, pred, paa_pred
         |  FROM fw JOIN pw USING (test_sig, test_seg)
         |)
         |SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CASE WHEN pred = paa_pred THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_agree,
         |  round(CAST(sum(CASE WHEN pred = paa_pred THEN 1 ELSE 0 END) AS DOUBLE) /
         |        CAST(count(*) AS DOUBLE), 4) AS agree
         |FROM j""".stripMargin,

    "seg_knn_paa" ->
      s"""$OracleCte, ch AS (
         |  SELECT signal_id, CAST(floor((seq_no - 1) / 4.0) AS BIGINT) AS chunk,
         |         CAST(sum(value_q) AS BIGINT) AS sq,
         |         CAST(count(*) AS BIGINT) AS cnt
         |  FROM r GROUP BY 1, 2
         |), cm AS (
         |  SELECT signal_id, chunk, CAST(floor(chunk / 4.0) AS BIGINT) AS seg,
         |         CAST(sq AS DOUBLE) / (100.0 * CAST(cnt AS DOUBLE)) AS m
         |  FROM ch WHERE cnt = 4
         |), segv AS (
         |  SELECT signal_id, seg, list(m ORDER BY chunk) AS vals
         |  FROM cm GROUP BY 1, 2 HAVING count(*) = 4
         |), t AS (
         |  SELECT signal_id AS test_sig, seg AS test_seg, vals AS tv
         |  FROM segv WHERE signal_id IN (0, 1, 2)
         |), tr AS (
         |  SELECT signal_id AS train_sig, seg AS train_seg, vals AS rv
         |  FROM segv WHERE signal_id NOT IN (0, 1, 2)
         |), s AS (
         |  SELECT test_sig, test_seg, train_sig, train_seg,
         |         round(list_distance(tv, rv), 6) AS dist
         |  FROM t, tr
         |), rk AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY test_sig, test_seg
         |    ORDER BY dist, train_sig, train_seg) AS rnk
         |  FROM s
         |)
         |SELECT test_sig, test_seg, train_sig AS pred_sig, dist
         |FROM rk WHERE rnk = 1""".stripMargin,

    // full LTTB recomputed in SQL: with n=16, npts=6 the four bucket
    // selections are fixed index ranges, so the inherently-sequential
    // argmax chain (each step's triangle anchors on the previous pick)
    // unrolls into four chained CTEs; list_position(areas, list_max)
    // reproduces the strict ">" first-max tie-break. Reconstruction error
    // is exact at 6-digit rounding.
    "tier_lttb" ->
      s"""$OracleCte, segs AS (
         |  SELECT signal_id, CAST(floor((seq_no - 1) / 16.0) AS BIGINT) AS seg,
         |         list(value ORDER BY seq_no) AS vals, count(*) AS cnt
         |  FROM r GROUP BY 1, 2
         |), f AS (
         |  SELECT signal_id, seg, vals::DOUBLE[] AS vals FROM segs WHERE cnt = 16
         |), s1 AS (
         |  SELECT *, [abs((0 - 5.5)*(vals[j+1]-vals[1]) - (0 - j)*((vals[5]+vals[6]+vals[7]+vals[8])/4.0 - vals[1]))*0.5 for j in [1,2,3]] AS a1
         |  FROM f
         |), s1b AS (
         |  SELECT signal_id, seg, vals, [1,2,3][list_position(a1, list_max(a1))] AS b1 FROM s1
         |), s2 AS (
         |  SELECT *, [abs((b1 - 9.0)*(vals[j+1]-vals[b1+1]) - (b1 - j)*((vals[9]+vals[10]+vals[11])/3.0 - vals[b1+1]))*0.5 for j in [4,5,6,7]] AS a2
         |  FROM s1b
         |), s2b AS (
         |  SELECT signal_id, seg, vals, b1, [4,5,6,7][list_position(a2, list_max(a2))] AS b2 FROM s2
         |), s3 AS (
         |  SELECT *, [abs((b2 - 12.5)*(vals[j+1]-vals[b2+1]) - (b2 - j)*((vals[12]+vals[13]+vals[14]+vals[15])/4.0 - vals[b2+1]))*0.5 for j in [8,9,10]] AS a3
         |  FROM s2b
         |), s3b AS (
         |  SELECT signal_id, seg, vals, b1, b2, [8,9,10][list_position(a3, list_max(a3))] AS b3 FROM s3
         |), s4 AS (
         |  SELECT *, [abs((b3 - 15.0)*(vals[j+1]-vals[b3+1]) - (b3 - j)*(vals[16] - vals[b3+1]))*0.5 for j in [11,12,13,14]] AS a4
         |  FROM s3b
         |), s4b AS (
         |  SELECT signal_id, seg, vals, b1, b2, b3, [11,12,13,14][list_position(a4, list_max(a4))] AS b4 FROM s4
         |), kp AS (
         |  SELECT signal_id, seg, vals, [0, b1, b2, b3, b4, 15] AS kps FROM s4b
         |), spans AS (
         |  SELECT signal_id, seg, vals, kps[p] AS i0, kps[p+1] AS i1
         |  FROM kp, range(1, 6) t(p)
         |), pts AS (
         |  SELECT signal_id, seg,
         |    abs(vals[m+1] - (vals[i0+1] + (vals[i1+1]-vals[i0+1])*(m-i0)/(i1-i0))) AS ae
         |  FROM spans, range(0, 16) t(m)
         |  WHERE m >= i0 AND m <= i1
         |)
         |SELECT p.signal_id, p.seg, CAST(6 AS BIGINT) AS n_pts,
         |  f.vals[1] AS first_v, f.vals[16] AS last_v, round(max(p.ae), 6) AS err
         |FROM pts p JOIN f USING (signal_id, seg)
         |GROUP BY 1, 2, 4, 5""".stripMargin,

    // FFT low-pass reconstruction error recomputed without an FFT: keep=4
    // leaves 7 live coefficients of the 16-pt transform (k<4, k>12), so
    // spectrum + inverse are direct DFT sums; exact at 6-digit rounding
    "tier_fft_err" ->
      s"""$OracleCte, segs AS (
         |  SELECT signal_id, CAST(floor((seq_no - 1) / 16.0) AS BIGINT) AS seg,
         |         list(value ORDER BY seq_no) AS vals, count(*) AS cnt
         |  FROM r GROUP BY 1, 2
         |), f AS (
         |  SELECT signal_id, seg, vals::DOUBLE[] AS vals FROM segs WHERE cnt = 16
         |), ks AS (SELECT unnest([0,1,2,3,13,14,15]) AS k),
         |sx AS (
         |  SELECT f.signal_id, f.seg, ks.k,
         |    list_sum([f.vals[m]*cos(2*pi()*(m-1)*ks.k/16.0) for m in range(1,17)]) AS xr,
         |    -list_sum([f.vals[m]*sin(2*pi()*(m-1)*ks.k/16.0) for m in range(1,17)]) AS xi
         |  FROM f, ks
         |), rec AS (
         |  SELECT sx.signal_id, sx.seg, t.m,
         |    sum(sx.xr*cos(2*pi()*t.m*sx.k/16.0) - sx.xi*sin(2*pi()*t.m*sx.k/16.0)) / 16.0 AS rv
         |  FROM sx, range(0,16) t(m)
         |  GROUP BY 1, 2, 3
         |)
         |SELECT f.signal_id, f.seg, round(max(abs(f.vals[rec.m+1] - rec.rv)), 6) AS err
         |FROM f JOIN rec USING (signal_id, seg)
         |GROUP BY 1, 2""".stripMargin,

    // RBF kernel vs the 2-segment dictionary, recomputed with the same
    // element-order squared-distance fold; exact at 6-digit rounding
    "seg_kernel_rbf" ->
      s"""$OracleCte, segs AS (
         |  SELECT signal_id, CAST(floor((seq_no - 1) / 16.0) AS BIGINT) AS seg,
         |         list(value ORDER BY seq_no) AS vals, count(*) AS cnt
         |  FROM r GROUP BY 1, 2
         |), f AS (
         |  SELECT signal_id, seg, vals::DOUBLE[] AS vals FROM segs WHERE cnt = 16
         |), d0 AS (SELECT vals AS dv FROM f WHERE signal_id = 0 AND seg = 0),
         |   d1 AS (SELECT vals AS dv FROM f WHERE signal_id = 1 AND seg = 0)
         |SELECT f.signal_id, f.seg,
         |  round(exp(-0.001 * list_sum([(f.vals[i]-d0.dv[i])*(f.vals[i]-d0.dv[i]) for i in range(1,17)])), 6) AS k0,
         |  round(exp(-0.001 * list_sum([(f.vals[i]-d1.dv[i])*(f.vals[i]-d1.dv[i]) for i in range(1,17)])), 6) AS k1
         |FROM f, d0, d1""".stripMargin,

    // SINK kernel recomputed WITHOUT an FFT: with keep=4 the truncated
    // spectrum has only 8 live coefficients (k<4 and k>=28 of the 32-pt
    // transform), so each spectrum / inverse-transform is a direct 8-term
    // DFT sum — O(n*keep) relational math that matches the Breeze FFT
    // bitwise at 6-digit rounding (kernel semantics: reference
    // kernel.rs:326 sinkcompressed / :353 nccc_compressed)
    "seg_kernel_sink" ->
      s"""$sinkFeatureChainSql
         |SELECT signal_id, seg, k0, k1 FROM feat""".stripMargin,

    // GRAIL-reduced 1-NN (the reference kNN harness's GRAIL flavor,
    // knn/mod.rs:85-308): each segment reduced to its SINK kernel
    // features against the 2-segment dictionary, then the same
    // deterministic ranking as seg_knn in the 2-d feature space. The
    // features are the 6dp-rounded k0/k1 BOTH engines already prove
    // exactly equal (seg_kernel_sink), so the distances agree exactly.
    "seg_knn_grail" ->
      s"""$sinkFeatureChainSql, t AS (
         |  SELECT signal_id AS test_sig, seg AS test_seg, k0 AS tk0, k1 AS tk1
         |  FROM feat WHERE signal_id IN (0, 1, 2)
         |), tr AS (
         |  SELECT signal_id AS train_sig, seg AS train_seg, k0 AS rk0, k1 AS rk1
         |  FROM feat WHERE signal_id NOT IN (0, 1, 2)
         |), sdist AS (
         |  SELECT test_sig, test_seg, train_sig, train_seg,
         |    round(sqrt((tk0 - rk0) * (tk0 - rk0) + (tk1 - rk1) * (tk1 - rk1)), 6) AS dist
         |  FROM t, tr
         |), rk AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY test_sig, test_seg
         |    ORDER BY dist, train_sig, train_seg) AS rnk
         |  FROM sdist
         |)
         |SELECT test_sig, test_seg, train_sig AS pred_sig, dist
         |FROM rk WHERE rnk = 1""".stripMargin,

    // payload bytes are the UTF-8 encoding of `text`; the testdata corpus is
    // pure ASCII (asserted in MultimodalSpec), so unicode(char) == byte and
    // the histogram/frame folds are exactly expressible over characters
    "mm_features" ->
      """WITH c AS (
        |  SELECT doc_id, [unicode(x)::BIGINT for x in string_split(text, '')] AS b
        |  FROM documents
        |)
        |SELECT doc_id, CAST(len(b) AS BIGINT) AS n_bytes,
        |  array_to_string([len(list_filter(b, x -> x // 16 = h)) for h in range(0, 16)], ',') AS hist16_csv
        |FROM c""".stripMargin,

    "mm_frames" ->
      """WITH c AS (
        |  SELECT doc_id, [unicode(x)::BIGINT for x in string_split(text, '')] AS b
        |  FROM documents
        |), f AS (
        |  SELECT doc_id, b, CAST(len(b) // 16 AS BIGINT) AS n_frames FROM c
        |)
        |SELECT doc_id, n_frames,
        |  CAST(len([fi for fi in range(0, n_frames) if fi % 2 = 0]) AS BIGINT) AS n_sampled,
        |  array_to_string([list_reduce(b[CAST(fi*16+1 AS INT):CAST(fi*16+16 AS INT)],
        |                               (a, x) -> (a*31 + x) & 4294967295)
        |                   for fi in range(0, n_frames) if fi % 2 = 0], ',') AS frames_csv
        |FROM f""".stripMargin,

    // payload = UTF-8 bytes of the pure-ASCII text (MultimodalSpec
    // asserts), so sha256 over the blob equals sha256 over the string
    "mm_dedup_exact" ->
      """SELECT sha256(text) AS h, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(min(doc_id) AS BIGINT) AS keeper
        |FROM documents GROUP BY 1""".stripMargin,

    // brute-force all-pairs byte-16-gram Jaccard (ASCII: byte windows ==
    // char windows of the RAW text — no lowercasing, unlike dedup_ngram);
    // the size-ratio bound implied by jac >= t prunes the quadratic work
    "mm_near_dup" ->
      """WITH g0 AS (
        |  SELECT doc_id,
        |         list_distinct([substr(text, CAST(i AS INT), 16)
        |                        for i in range(1, len(text) - 14)]) AS g
        |  FROM documents
        |), g1 AS (
        |  SELECT doc_id, g, CAST(len(g) AS BIGINT) AS ng FROM g0 WHERE len(g) > 0
        |)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) /
        |  CAST(len(list_distinct(list_concat(a.g, b.g))) AS DOUBLE) AS jac
        |FROM g1 a JOIN g1 b
        |  ON a.doc_id < b.doc_id
        | AND CAST(least(a.ng, b.ng) AS DOUBLE) >= 0.5 * CAST(greatest(a.ng, b.ng) AS DOUBLE)
        |WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) /
        |      CAST(len(list_distinct(list_concat(a.g, b.g))) AS DOUBLE) >= 0.5""".stripMargin,

    // full winnow recomputation (payload = UTF-8 bytes of the pure-ASCII
    // text, so fnv32 over byte windows == fnv32 over char windows of the
    // RAW text), then brute-force pair Jaccard over the fingerprint sets
    // — exact, because the engine's postings-join candidates are
    // exhaustive for jac >= 0.5 (any qualifying pair shares a
    // fingerprint), unlike the probabilistic MinHash band join
    "mm_near_dup_winnow" ->
      s"""WITH c AS (
         |  SELECT doc_id, text FROM documents
         |), pos AS (
         |  SELECT doc_id, text, unnest(range(1, len(text) - 14)) AS i
         |  FROM c WHERE len(text) >= 16
         |), h AS (
         |  SELECT doc_id, i,
         |    ${graft.functions.TextOps.fnv32Sql("substr(text, CAST(i AS INT), 16)")} AS hv
         |  FROM pos
         |), m AS (
         |  SELECT doc_id, i, hv,
         |    count(*) OVER (PARTITION BY doc_id) AS nh,
         |    min(hv) OVER (PARTITION BY doc_id ORDER BY i
         |                  ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS wm
         |  FROM h
         |), fp AS (
         |  SELECT doc_id, wm AS f FROM m WHERE nh >= 16 AND i <= nh - 15
         |  UNION
         |  SELECT doc_id, hv AS f FROM m WHERE nh < 16
         |), g1 AS (
         |  SELECT doc_id, list_distinct(list(f)) AS g,
         |         CAST(count(DISTINCT f) AS BIGINT) AS ng
         |  FROM fp GROUP BY 1
         |)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) /
         |  CAST(len(list_distinct(list_concat(a.g, b.g))) AS DOUBLE) AS jac
         |FROM g1 a JOIN g1 b
         |  ON a.doc_id < b.doc_id
         | AND CAST(least(a.ng, b.ng) AS DOUBLE) >= 0.5 * CAST(greatest(a.ng, b.ng) AS DOUBLE)
         |WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) /
         |      CAST(len(list_distinct(list_concat(a.g, b.g))) AS DOUBLE) >= 0.5""".stripMargin,

    "tier_lttb_summary" ->
      s"""$OracleCte, segs AS (
         |  SELECT signal_id, CAST(floor((seq_no - 1) / 16.0) AS BIGINT) AS seg,
         |         CAST(count(*) AS BIGINT) AS cnt,
         |         arg_min(value, seq_no) AS first_v,
         |         arg_max(value, seq_no) AS last_v
         |  FROM r GROUP BY 1, 2
         |)
         |SELECT signal_id, seg, CAST(6 AS BIGINT) AS n_pts, first_v, last_v
         |FROM segs WHERE cnt = 16""".stripMargin,

    "tier_policy" ->
      s"""$OracleCte, c AS (
         |  SELECT signal_id, CAST(floor((seq_no - 1) / 16.0) AS BIGINT) AS seg,
         |         CAST(count(*) AS BIGINT) AS cnt
         |  FROM r GROUP BY 1, 2
         |), cm AS (
         |  SELECT signal_id, CAST(floor((seq_no - 1) / 16.0) AS BIGINT) AS seg, value,
         |    CAST(sum(value_q) OVER (PARTITION BY signal_id, floor((seq_no - 1) / 4.0)) AS DOUBLE) /
         |    (100.0 * CAST(count(*) OVER (PARTITION BY signal_id, floor((seq_no - 1) / 4.0)) AS DOUBLE)) AS chunk_mean
         |  FROM r
         |), e AS (
         |  SELECT signal_id, seg, round(max(abs(value - chunk_mean)), 6) AS err
         |  FROM cm GROUP BY 1, 2
         |)
         |SELECT c.signal_id, c.seg, c.cnt, c.cnt * 8 AS bytes_raw,
         |  CAST(ceil(c.cnt / 4.0) * 8 AS BIGINT) AS bytes_paa,
         |  CAST(ceil(c.cnt / 4.0) * 8 AS DOUBLE) / CAST(c.cnt * 8 AS DOUBLE) AS cr_paa,
         |  CAST(ceil(c.cnt / 4.0) * 8 AS DOUBLE) / CAST(c.cnt * 8 AS DOUBLE) < 0.5 AS cr_ok,
         |  e.err,
         |  (CAST(ceil(c.cnt / 4.0) * 8 AS DOUBLE) / CAST(c.cnt * 8 AS DOUBLE) < 0.5
         |   AND e.err <= 80.0) AS recode
         |FROM c JOIN e USING (signal_id, seg)""".stripMargin,

    "tier_ladder" ->
      s"""$OracleCte, c AS (
         |  SELECT signal_id, CAST(floor((seq_no - 1) / 8.0) AS BIGINT) AS chunk,
         |         CAST(sum(value_q) AS BIGINT) AS sq, CAST(count(*) AS BIGINT) AS cnt
         |  FROM r GROUP BY 1, 2
         |)
         |SELECT signal_id, chunk, sq, cnt,
         |  CAST(sq AS DOUBLE) / (100.0 * CAST(cnt AS DOUBLE)) AS chunk_mean
         |FROM c""".stripMargin,

    "tier_pla" ->
      s"""$OracleCte, g AS (
         |  SELECT signal_id, value, value_q,
         |         CAST(floor((seq_no - 1) / 8.0) AS BIGINT) AS win,
         |         (seq_no - 1) - CAST(floor((seq_no - 1) / 8.0) AS BIGINT) * 8 AS x
         |  FROM r
         |), m AS (
         |  SELECT signal_id, win, value, x,
         |    count(*) OVER w AS n,
         |    sum(x) OVER w AS sx, sum(value_q) OVER w AS sy,
         |    sum(x * value_q) OVER w AS sxy, sum(x * x) OVER w AS sxx
         |  FROM g WINDOW w AS (PARTITION BY signal_id, win)
         |), f AS (
         |  SELECT signal_id, win, value, x, n,
         |    CASE WHEN n * sxx - sx * sx = 0 THEN CAST(0.0 AS DOUBLE)
         |         ELSE CAST(n * sxy - sx * sy AS DOUBLE) /
         |              CAST(n * sxx - sx * sx AS DOUBLE) END AS slope_q,
         |    sx, sy
         |  FROM m
         |), f2 AS (
         |  SELECT signal_id, win, value, x, n, slope_q,
         |    (CAST(sy AS DOUBLE) - slope_q * CAST(sx AS DOUBLE)) /
         |      CAST(n AS DOUBLE) AS icept_q
         |  FROM f
         |)
         |SELECT signal_id, win, CAST(count(*) AS BIGINT) AS n,
         |  round(min(slope_q), 6) AS slope_q,
         |  round(min(icept_q), 6) AS icept_q,
         |  round(max(abs(value - (icept_q + slope_q * CAST(x AS DOUBLE)) / 100.0)), 6) AS err
         |FROM f2 GROUP BY 1, 2""".stripMargin,

    "tier_lru_plan" ->
      s"""$OracleCte, cm AS (
         |  SELECT signal_id, seq_no, ts, value,
         |    CAST(sum(value_q) OVER (PARTITION BY signal_id, floor((seq_no - 1) / 4.0)) AS DOUBLE) /
         |    (100.0 * CAST(count(*) OVER (PARTITION BY signal_id, floor((seq_no - 1) / 4.0)) AS DOUBLE)) AS chunk_mean
         |  FROM r
         |), st AS (
         |  SELECT signal_id, CAST(floor((seq_no - 1) / 16.0) AS BIGINT) AS seg,
         |    CAST(count(*) AS BIGINT) AS cnt,
         |    CAST(max(epoch_us(ts)) AS BIGINT) AS last_us,
         |    round(max(abs(value - chunk_mean)), 6) AS err
         |  FROM cm GROUP BY 1, 2
         |), cu AS (
         |  SELECT *, cnt * 8 AS bytes_raw,
         |    CAST(sum(cnt * 8) OVER (ORDER BY last_us DESC, signal_id, seg
         |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_bytes
         |  FROM st
         |)
         |SELECT signal_id, seg, cnt, bytes_raw, last_us, err, cum_bytes,
         |  CASE WHEN cum_bytes <= 32768 THEN 'keep'
         |       WHEN err <= 80.0 THEN 'recode'
         |       ELSE 'spill' END AS action
         |FROM cu""".stripMargin,

    "tier_recode_plan" ->
      s"""$OracleCte, c AS (
         |  SELECT signal_id, CAST(floor((seq_no - 1) / 16.0) AS BIGINT) AS seg,
         |         CAST(count(*) AS BIGINT) AS cnt
         |  FROM r GROUP BY 1, 2
         |)
         |SELECT signal_id, seg, cnt, cnt * 8 AS bytes_raw,
         |  CAST(ceil(cnt / 4.0) * 8 AS BIGINT) AS bytes_paa,
         |  CAST(ceil(cnt / 4.0) * 8 AS DOUBLE) / CAST(cnt * 8 AS DOUBLE) AS cr_paa,
         |  CAST(ceil(cnt / 4.0) * 8 AS DOUBLE) / CAST(cnt * 8 AS DOUBLE) < 0.5 AS recode
         |FROM c""".stripMargin
  )
}
