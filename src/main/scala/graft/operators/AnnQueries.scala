package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Driver-facing registrations for embedding similarity search and
  * embedding-space ML. The brute-force AND LSH paths carry exact DuckDB
  * oracles: list_dot_product over DOUBLE[] is the same sequential fold the
  * native graft_dot expression computes, and the LSH planes are
  * deterministic integers (Similarity.lcgPlanes) the oracle regenerates in
  * SQL. `ann_recall` quantifies LSH quality against the brute baseline
  * (recall@10) as a CORRECTNESS-visible row; only the spark.ml paths stay
  * rows-only + ScalaTest.
  */
object AnnQueries {

  // 4 planes + <=3-bit multi-probe: measured recall@10 of 0.94 on the
  // isotropic synthetic embeddings (where candidate-fraction ~ recall is
  // the information-theoretic shape — no cluster structure to exploit);
  // the 0.9 floor is enforced in AnnSpec. On clustered real corpora the
  // same harness holds recall at a much smaller probe radius.
  private val NPlanes = 4
  private val MaxFlip = 3
  private val Dim = 64
  private val TopK = 10

  // embedding near-dup pairing: bucket-hamming <= 2 captures 0.85 of the
  // cos >= 0.35 ground-truth pairs at candidate fraction 0.67 on the
  // isotropic testdata (floor 0.8 in AnnSpec)
  private val DupThreshold = 0.35
  private val PairFlip = 2

  // IVF codebook: the first NCells corpus vectors (deterministic sample —
  // IVF-Flat's k-means init without the iteration, so the SQL oracle can
  // regenerate the identical codebook). 16 cells / 4 probes measured
  // recall@10 = 0.90 at candidate fraction 0.25 on this corpus (floor
  // 0.85 in AnnSpec) — strictly dominating sign-LSH (0.94 at 0.92).
  private val NCells = 16
  private val NProbe = 4

  // fixed-point vector tier: floor(v*64) ~ int8 components (BUFF's
  // quantized-domain querying applied to embeddings); measured rank
  // agreement with the float baseline: recall@10 = 0.92-0.94 across
  // sf0.001/0.01/0.1 (floor 0.85 in AnnSpec)
  private val QuantScale = 64.0

  // Johnson–Lindenstrauss random projection: 64 -> 32 dims over the same
  // deterministic integer LCG plane family as sign-LSH (oracle-exact).
  // The reduced space alone is the shortlist pass; the production shapes
  // are rerank (RpShortlist reduced-space candidates re-ranked by exact
  // full-space cosine) and RP-IVF (reduced Voronoi cells prune WHICH
  // vectors are scanned, RP shrinks WHAT is scanned per vector) —
  // measured recalls 0.42-0.51 / 0.39-0.43 on the isotropic worst case,
  // floors asserted in AnnSpec.
  private val RpDim = 32
  private val RpShortlist = 100

  private def ivfCentroids(s: SparkSession, d: String): Seq[(Int, Seq[Double])] =
    emb(s, d).filter(col("vec_id") < NCells).orderBy(col("vec_id"))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0).toInt, r.getSeq[Double](1).toSeq)).toSeq

  /** Reduced-space IVF centroids: the projections of the SAME first
    * NCells vectors the flat codebook uses, computed through the SAME
    * codegen'd projection expressions the query path runs (a bounded
    * NCells-row collect) — so the SQL oracle's projected-codebook is
    * double-identical by construction, with zero driver-side arithmetic
    * to keep in sync.
    */
  private def rpIvfCentroids(s: SparkSession, d: String): Seq[(Int, Seq[Double])] =
    emb(s, d).filter(col("vec_id") < NCells).orderBy(col("vec_id"))
      .select(col("vec_id"),
        Similarity.rpProject(col("embedding"),
          Similarity.lcgPlanes(RpDim, Dim)).as("r"))
      .collect().map(r => (r.getLong(0).toInt, r.getSeq[Double](1).toSeq)).toSeq

  /** The ann_rp_ivf_store query split at the index boundary (the
    * ivfBuildStore/ivfProbeStore pattern): the bench builds the reduced
    * store once untimed and times the serve alone — the amortized
    * reduced-tier serving cost at 100 TB, where projection + bucketing
    * happen at ingest.
    */
  private[graft] def rpIvfBuildStore(s: SparkSession, d: String,
                                     path: String): Unit =
    rpIvfBuildStore(s, d, path, rpIvfCentroids(s, d))

  private[graft] def rpIvfBuildStore(s: SparkSession, d: String, path: String,
                                     cents: Seq[(Int, Seq[Double])]): Unit =
    graft.sources.IvfStore.write(
      emb(s, d).select(col("vec_id"),
        Similarity.rpProject(col("embedding"),
          Similarity.lcgPlanes(RpDim, Dim)).as("rvec")),
      "vec_id", "rvec", cents, path)

  private[graft] def rpIvfProbeStore(s: SparkSession, d: String,
                                     path: String): DataFrame =
    // serve from the index's OWN persisted codebook (a |cells|-row
    // sidecar read) instead of re-deriving it with a corpus-scan collect
    // — the dictionary is bit-identical (doubles round-trip parquet)
    rpIvfProbeStore(s, d, path, graft.sources.IvfStore.readCentroids(s, path))

  private[graft] def rpIvfProbeStore(s: SparkSession, d: String, path: String,
                                     cents: Seq[(Int, Seq[Double])]): DataFrame =
    graft.sources.IvfStore.topKReduced(s, path, probes(s, d), corpus(s, d),
      TopK, Similarity.lcgPlanes(RpDim, Dim), cents,
      NProbe, RpShortlist)

  /** The ann_ivf_store query split at the index boundary, so the bench
    * can attribute serving cost separately from the one-time build — at
    * 100 TB the index is built once by the ingest pipeline and amortized
    * over every query, so BUILD+PROBE as one number misattributes the
    * scale cost (SCALE100 r12: 119 s at x100 for a fixed 100-row answer,
    * unattributed).
    */
  private[graft] def ivfBuildStore(s: SparkSession, d: String,
                                   path: String): Unit =
    ivfBuildStore(s, d, path, ivfCentroids(s, d))

  private[graft] def ivfBuildStore(s: SparkSession, d: String, path: String,
                                   cents: Seq[(Int, Seq[Double])]): Unit =
    graft.sources.IvfStore.write(emb(s, d), "vec_id", "embedding",
      cents, path)

  private[graft] def ivfProbeStore(s: SparkSession, d: String,
                                   path: String): DataFrame =
    // serve from the index's OWN persisted codebook (see rpIvfProbeStore)
    ivfProbeStore(s, d, path, graft.sources.IvfStore.readCentroids(s, path))

  private[graft] def ivfProbeStore(s: SparkSession, d: String, path: String,
                                   cents: Seq[(Int, Seq[Double])]): DataFrame =
    graft.sources.IvfStore.topK(s, path, probes(s, d), TopK,
      cents, NProbe)

  // PQ layout: 8 subspaces x 8 dims, 16 centroids per subspace taken from
  // the first 16 corpus vectors' subvectors (deterministic sample — k-means
  // init without the iteration, same trick as the IVF codebook, so the SQL
  // oracle regenerates the identical codebook). 8 codes/vector = 8 bytes
  // of search state vs 256 bytes of floats.
  private val PqM = 8
  private val PqSubDim = 8
  private val PqCells = 16

  private def pqCodebook(s: SparkSession, d: String): Array[Array[Array[Double]]] = {
    val base = emb(s, d).filter(col("vec_id") < PqCells).orderBy(col("vec_id"))
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
    Array.tabulate(PqM)(m => base.map(v => v.slice(m * PqSubDim, (m + 1) * PqSubDim)))
  }

  /** IVF-PQ residual codebook: the RESIDUALS of vectors [NCells,
    * NCells+PqCells) w.r.t. their own best coarse cell, sliced into
    * subspaces. Derived through the very same cellScore/zip_with
    * expressions the query path runs (a 16-row bounded collect), so the
    * codebook the oracle regenerates in SQL is double-identical.
    */
  private def ivfPqCodebook(s: SparkSession, d: String): Array[Array[Array[Double]]] =
    ivfPqCodebookFrom(s, d, ivfCentroids(s, d))

  /** [[ivfPqCodebook]] with the coarse centroids supplied by a caller
    * that already collected them — the IVF-PQ rows all need BOTH the
    * centroid dictionary and the residual codebook, and the nested
    * ivfCentroids collect re-ran the same bounded corpus-scan job once
    * (ann_ivfpq/_recall) to twice (ann_ivfpq_store) per construction.
    */
  private def ivfPqCodebookFrom(s: SparkSession, d: String,
                                cents: Seq[(Int, Seq[Double])])
      : Array[Array[Array[Double]]] = {
    val centArr = array(cents.sortBy(_._1).map { case (_, c) => typedLit(c) }: _*)
    val base = emb(s, d)
      .filter(col("vec_id") >= NCells && col("vec_id") < NCells + PqCells)
      .withColumn("cell", Similarity.bestCell(col("embedding"), cents))
      .withColumn("cent", element_at(centArr, col("cell").cast("int") + lit(1)))
      .select(col("vec_id"),
        zip_with(col("embedding").cast("array<double>"), col("cent"),
          (a, b) => a - b).as("resid"))
      .orderBy(col("vec_id"))
      .collect().map(_.getSeq[Double](1).toArray)
    Array.tabulate(PqM)(m => base.map(v => v.slice(m * PqSubDim, (m + 1) * PqSubDim)))
  }

  /** recall = |approx ∩ brute| / |brute| over the given key columns —
    * the one summary row every *_recall query emits.
    */
  private def recallSummary(brute: DataFrame, approx: DataFrame,
                            keys: Seq[String]): DataFrame =
    brute.join(approx.withColumn("hit", lit(1L)), keys, "left")
      .agg(count(lit(1)).as("n_brute"),
        coalesce(sum(col("hit")), lit(0L)).cast("long").as("n_hit"))
      .withColumn("recall",
        round(col("n_hit").cast("double") / col("n_brute").cast("double"), 4))

  private def emb(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorFunctions.ensureRegistered(s)
    Tables.embeddings(s, d)
  }

  private def probes(s: SparkSession, d: String): DataFrame =
    emb(s, d).filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))

  private def corpus(s: SparkSession, d: String): DataFrame =
    emb(s, d).select(col("vec_id").as("cand_id"), col("embedding").as("ce"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_brute" -> ((s, d) =>
      Similarity.bruteTopK(probes(s, d), corpus(s, d), 10)),

    "ann_lsh" -> ((s, d) =>
      Similarity.lshTopK(probes(s, d), corpus(s, d), TopK, NPlanes, Dim, MaxFlip)),

    // recall@10 of the LSH path vs the exact baseline — the quantitative
    // link the approximate tier must carry (the reference tracks query
    // error the same way, buffer_pool.rs:940-1101); floor asserted in
    // AnnSpec, exact value oracle-checked (both engines are deterministic)
    "ann_recall" -> ((s, d) => recallSummary(
      Similarity.bruteTopK(probes(s, d), corpus(s, d), TopK)
        .select(col("probe_id"), col("cand_id")),
      Similarity.lshTopK(probes(s, d), corpus(s, d), TopK, NPlanes, Dim, MaxFlip)
        .select(col("probe_id"), col("cand_id")),
      Seq("probe_id", "cand_id"))),

    // IVF-Flat variant: deterministic 16-cell codebook, map-only cell
    // assignment, probes search their 4 nearest cells exactly
    "ann_ivf" -> ((s, d) =>
      Similarity.ivfTopK(probes(s, d), corpus(s, d), TopK,
        ivfCentroids(s, d), NProbe)),

    "ann_ivf_recall" -> ((s, d) => recallSummary(
      Similarity.bruteTopK(probes(s, d), corpus(s, d), TopK)
        .select(col("probe_id"), col("cand_id")),
      Similarity.ivfTopK(probes(s, d), corpus(s, d), TopK,
          ivfCentroids(s, d), NProbe)
        .select(col("probe_id"), col("cand_id")),
      Seq("probe_id", "cand_id"))),

    // the recall/cost CURVE: recall@10 vs the exact baseline at nProbe
    // in {1, 2, 4, 8} — the operating-point table an ANN deployment is
    // tuned from (recall rises with probed fraction; the curve makes the
    // cost of each recall point explicit)
    "ann_ivf_curve" -> ((s, d) => {
      // the brute baseline is the REFERENCE, not the knob under sweep:
      // materialize its tiny result (|probes|·TopK rows) once instead of
      // re-inlining the full exact-scan subtree under all four union
      // branches (r15: 4x brute executions for identical rows). Each
      // knob's ivfTopK serve stays fully self-contained. The codebook
      // collect is knob-independent — hoisted out of the loop.
      val brute = Similarity.bruteTopK(probes(s, d), corpus(s, d), TopK)
        .select(col("probe_id"), col("cand_id")).localCheckpoint()
      val cents = ivfCentroids(s, d)
      Seq(1, 2, 4, 8).map { np =>
        recallSummary(brute,
          Similarity.ivfTopK(probes(s, d), corpus(s, d), TopK, cents, np)
            .select(col("probe_id"), col("cand_id")),
          Seq("probe_id", "cand_id"))
          .withColumn("nprobe", lit(np.toLong))
      }.reduce(_ unionByName _)
    }),

    // size-aware adaptive probing: each probe reads cells until 25% of
    // the corpus is covered — fixed-I/O-per-query under skewed cells
    "ann_ivf_adaptive" -> ((s, d) =>
      Similarity.ivfTopKAdaptive(probes(s, d), corpus(s, d), TopK,
        ivfCentroids(s, d), targetFrac = 0.25)),

    // the persisted IVF index: corpus written partitioned by cell, probes
    // read ONLY their nProbe cells (static partition pruning at the scan)
    // — same scoring arithmetic as ann_ivf, so the same oracle checks it
    "ann_ivf_store" -> ((s, d) => {
      val path = java.nio.file.Files.createTempDirectory("graft-ivf-store").toString
      // one centroid collect feeds build AND probe (was one each)
      val cents = ivfCentroids(s, d)
      ivfBuildStore(s, d, path, cents)
      ivfProbeStore(s, d, path, cents)
    }),

    // embedding-cosine near-duplicate pairs (LSH-bucketed candidates,
    // exact cosine confirm) and their measured recall vs brute force
    "dedup_embedding" -> ((s, d) =>
      Similarity.cosinePairsLsh(
        emb(s, d).select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", DupThreshold, NPlanes, Dim, PairFlip)),

    // SemDeDup: cluster-bounded semantic dedup — IVF cell assignment
    // (map-only), within-cell cosine pairs, component keepers
    "dedup_semantic" -> ((s, d) =>
      Similarity.semanticDedup(
        emb(s, d).select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", ivfCentroids(s, d), DupThreshold)),

    "dedup_emb_recall" -> ((s, d) => {
      val vecs = emb(s, d).select(col("vec_id"), col("embedding"))
      recallSummary(
        Similarity.cosinePairsBrute(vecs, "vec_id", "embedding", DupThreshold)
          .select(col("vec_a"), col("vec_b")),
        Similarity.cosinePairsLsh(vecs, "vec_id", "embedding",
            DupThreshold, NPlanes, Dim, PairFlip)
          .select(col("vec_a"), col("vec_b")),
        Seq("vec_a", "vec_b"))
    }),

    // product-quantized top-k: 8-byte codes per vector, squared-L2 against
    // the code reconstruction (= the ADC lookup sum in the same fold order)
    "ann_pq" -> ((s, d) =>
      Similarity.pqTopK(probes(s, d), corpus(s, d), TopK, pqCodebook(s, d))),

    "ann_pq_recall" -> ((s, d) => recallSummary(
      Similarity.bruteTopKL2(probes(s, d), corpus(s, d), TopK)
        .select(col("probe_id"), col("cand_id")),
      Similarity.pqTopK(probes(s, d), corpus(s, d), TopK, pqCodebook(s, d))
        .select(col("probe_id"), col("cand_id")),
      Seq("probe_id", "cand_id"))),

    // IVF-PQ (Faiss IVFADC): coarse cells prune the search, PQ codes on
    // the residuals compress the scan payload to cell + 8 ints/vector.
    // The bounded centroid dictionary is collected ONCE per construction
    // and shared with the residual-codebook derivation (it was
    // re-collected per consumer — one identical corpus-scan job each)
    "ann_ivfpq" -> ((s, d) => {
      val cents = ivfCentroids(s, d)
      Similarity.ivfPqTopK(probes(s, d), corpus(s, d), TopK,
        cents, NProbe, ivfPqCodebookFrom(s, d, cents))
    }),

    // the persisted IVF-PQ index: cell-partitioned codes on disk (no
    // floats), probes read only their cells — same arithmetic as
    // ann_ivfpq, so the same oracle checks it. Centroids collected once
    // (they fed the codebook derivation, the store write AND the probe
    // — three identical collect jobs per construction before r16)
    "ann_ivfpq_store" -> ((s, d) => {
      val path = java.nio.file.Files.createTempDirectory("graft-ivfpq-store").toString
      val cents = ivfCentroids(s, d)
      val cb = ivfPqCodebookFrom(s, d, cents)
      graft.sources.IvfStore.writePq(emb(s, d), "vec_id", "embedding",
        cents, cb, path)
      graft.sources.IvfStore.topKPq(s, path, probes(s, d), TopK,
        cents, cb, NProbe)
    }),

    "ann_ivfpq_recall" -> ((s, d) => {
      val cents = ivfCentroids(s, d)
      recallSummary(
        Similarity.bruteTopKL2(probes(s, d), corpus(s, d), TopK)
          .select(col("probe_id"), col("cand_id")),
        Similarity.ivfPqTopK(probes(s, d), corpus(s, d), TopK,
            cents, NProbe, ivfPqCodebookFrom(s, d, cents))
          .select(col("probe_id"), col("cand_id")),
        Seq("probe_id", "cand_id"))
    }),

    // top-k ranked entirely in the quantized integer domain (no f32 reads)
    "ann_quant" -> ((s, d) =>
      Similarity.quantTopK(probes(s, d), corpus(s, d), TopK, QuantScale)),

    "ann_quant_recall" -> ((s, d) => recallSummary(
      Similarity.bruteTopK(probes(s, d), corpus(s, d), TopK)
        .select(col("probe_id"), col("cand_id")),
      Similarity.quantTopK(probes(s, d), corpus(s, d), TopK, QuantScale)
        .select(col("probe_id"), col("cand_id")),
      Seq("probe_id", "cand_id"))),

    // JL random projection of every embedding, dumped one component per
    // row (the array itself would be unsortable in the harness's
    // canonical-sort compare) — pins the map-only reduction transform
    // itself, independent of any downstream ranking
    "emb_project" -> ((s, d) =>
      emb(s, d).select(col("vec_id"),
          posexplode(Similarity.rpProject(col("embedding"),
            Similarity.lcgPlanes(RpDim, Dim))).as(Seq("dim_j", "comp")))
        .select(col("vec_id"), col("dim_j").cast("long").as("dim_j"),
          round(col("comp"), 6).as("comp"))),

    // top-k ranked entirely in the 32-dim reduced space (the shortlist
    // pass measured alone)
    "ann_rp" -> ((s, d) =>
      Similarity.rpTopK(probes(s, d), corpus(s, d), TopK, RpDim, Dim)),

    "ann_rp_recall" -> ((s, d) => recallSummary(
      Similarity.bruteTopK(probes(s, d), corpus(s, d), TopK)
        .select(col("probe_id"), col("cand_id")),
      Similarity.rpTopK(probes(s, d), corpus(s, d), TopK, RpDim, Dim)
        .select(col("probe_id"), col("cand_id")),
      Seq("probe_id", "cand_id"))),

    // coarse-to-fine: reduced-space shortlist, exact full-space rerank —
    // the deployment shape (arithmetic set by r, recall by the shortlist)
    "ann_rp_rerank" -> ((s, d) =>
      Similarity.rpRerankTopK(probes(s, d), corpus(s, d), TopK,
        RpShortlist, RpDim, Dim)),

    "ann_rp_rerank_recall" -> ((s, d) => recallSummary(
      Similarity.bruteTopK(probes(s, d), corpus(s, d), TopK)
        .select(col("probe_id"), col("cand_id")),
      Similarity.rpRerankTopK(probes(s, d), corpus(s, d), TopK,
          RpShortlist, RpDim, Dim)
        .select(col("probe_id"), col("cand_id")),
      Seq("probe_id", "cand_id"))),

    // RP-IVF: reduced vectors Voronoi-bucketed against reduced centroids,
    // probes search nProbe reduced cells for the shortlist, exact
    // full-space rerank — IVF prunes WHICH vectors are scanned, RP
    // shrinks WHAT is scanned per vector
    "ann_rp_ivf" -> ((s, d) =>
      Similarity.rpIvfTopK(probes(s, d), corpus(s, d), TopK,
        Similarity.lcgPlanes(RpDim, Dim), rpIvfCentroids(s, d),
        NProbe, RpShortlist)),

    "ann_rp_ivf_recall" -> ((s, d) => recallSummary(
      Similarity.bruteTopK(probes(s, d), corpus(s, d), TopK)
        .select(col("probe_id"), col("cand_id")),
      Similarity.rpIvfTopK(probes(s, d), corpus(s, d), TopK,
          Similarity.lcgPlanes(RpDim, Dim), rpIvfCentroids(s, d),
          NProbe, RpShortlist)
        .select(col("probe_id"), col("cand_id")),
      Seq("probe_id", "cand_id"))),

    // the serving-knob curve for the reduced tier (r13 verdict #8):
    // recall@TopK vs nProbe at the deployed shortlist — committed
    // evidence that recall is monotone in probe width and the default
    // operating point (NProbe = 4) is not a cliff edge. Mirrors
    // ann_ivf_curve. NOTE on cost shape: the ORACLE shares one reduced
    // assignment across its four tails (rpIvfBaseCte); the engine side
    // deliberately runs the full self-contained serve per knob — this
    // is a correctness-evidence row, and each point measuring the whole
    // pipeline keeps it an honest 4x serve, not a perf row.
    "ann_rp_ivf_curve" -> ((s, d) => {
      // brute baseline materialized once (it is the shared reference,
      // not the serve under sweep — see ann_ivf_curve); the reduced
      // codebook collect is knob-independent and hoisted. Each knob's
      // rpIvfTopK serve remains fully self-contained per the honesty
      // note above.
      val brute = Similarity.bruteTopK(probes(s, d), corpus(s, d), TopK)
        .select(col("probe_id"), col("cand_id")).localCheckpoint()
      val cents = rpIvfCentroids(s, d)
      Seq(1, 2, 4, 8).map { np =>
        recallSummary(brute,
          Similarity.rpIvfTopK(probes(s, d), corpus(s, d), TopK,
              Similarity.lcgPlanes(RpDim, Dim), cents,
              np, RpShortlist)
            .select(col("probe_id"), col("cand_id")),
          Seq("probe_id", "cand_id"))
          .withColumn("nprobe", lit(np.toLong))
      }.reduce(_ unionByName _)
    }),

    // the OTHER serving knob of the reduced tier (r14 verdict #6):
    // recall@TopK vs SHORTLIST at the deployed nProbe — together with
    // ann_rp_ivf_curve this maps both axes of the (nProbe, shortlist)
    // operating point. Same honesty note as the nprobe curve: the oracle
    // sweeps the knob over one shared reduced assignment; the engine runs
    // the full self-contained serve per point (correctness evidence, not
    // a perf row).
    "ann_rp_sl_curve" -> ((s, d) => {
      // same brute-baseline materialization + codebook hoist as the
      // nprobe curve; each shortlist point's serve stays self-contained
      val brute = Similarity.bruteTopK(probes(s, d), corpus(s, d), TopK)
        .select(col("probe_id"), col("cand_id")).localCheckpoint()
      val cents = rpIvfCentroids(s, d)
      Seq(10, 25, 50, 100).map { sl =>
        recallSummary(brute,
          Similarity.rpIvfTopK(probes(s, d), corpus(s, d), TopK,
              Similarity.lcgPlanes(RpDim, Dim), cents,
              NProbe, sl)
            .select(col("probe_id"), col("cand_id")),
          Seq("probe_id", "cand_id"))
          .withColumn("shortlist", lit(sl.toLong))
      }.reduce(_ unionByName _)
    }),

    // the persisted reduced-vector index — "project once at ingest" as an
    // on-disk artifact: r-dim payloads partitioned by reduced cell, probes
    // read only their nProbe cell partitions (static pruning over vectors
    // already d/r times smaller), rerank fetches full resolution from the
    // base table. Same arithmetic as ann_rp_ivf, so the same oracle.
    "ann_rp_ivf_store" -> ((s, d) => {
      val path = java.nio.file.Files
        .createTempDirectory("graft-rpivf-store").toString
      // one reduced-centroid collect feeds build AND probe (was one each)
      val cents = rpIvfCentroids(s, d)
      rpIvfBuildStore(s, d, path, cents)
      rpIvfProbeStore(s, d, path, cents)
    }),

    "emb_norm" -> ((s, d) =>
      emb(s, d).select(col("vec_id"),
        size(col("embedding")).cast("long").as("dim"),
        round(Similarity.l2(col("embedding")), 6).as("l2"))),

    "emb_knn_1nn" -> ((s, d) => {
      val e = emb(s, d)
      val test = e.filter(col("vec_id") % 5 === 0)
        .select(col("vec_id").as("test_id"), col("embedding").as("te"),
          col("label").cast("long").as("true_label"))
      val train = e.filter(col("vec_id") % 5 =!= 0)
        .select(col("vec_id").as("train_id"), col("embedding").as("tre"),
          col("label").cast("long").as("train_label"))
      Similarity.knn1(test, train)
    }),

    // classifier evaluation: the 1-NN confusion matrix (true x predicted
    // label counts) — the summary the lossyML accuracy sweeps report;
    // one keyed aggregation over the knn result
    "emb_knn_confusion" -> ((s, d) =>
      queries("emb_knn_1nn")(s, d)
        .groupBy(col("true_label"), col("pred_label"))
        .agg(count(lit(1)).as("cnt"))),

    // distribution monitoring: cosine of each label's centroid against
    // the global centroid, computed ENTIRELY from integer component sums
    // in the quantized domain (cosine is scale-invariant, so the /n
    // normalizations cancel and no double summation ever happens —
    // Σ sq·gq / (√Σ sq² · √Σ gq²) over exact DECIMAL(38,0) moments).
    // The per-(label, dim) sums are one keyed aggregation; the final
    // fold is labels × dims rows. The drift alarm for embedding
    // pipelines: a label whose centroid turns from the corpus mean.
    "emb_label_drift" -> ((s, d) => {
      val q = emb(s, d).select(col("label").cast("long").as("label"),
        posexplode(Similarity.quantizeVec(col("embedding"), 64.0))
          .as(Seq("pos", "qv")))
      val per = q.groupBy(col("label"), col("pos"))
        .agg(sum(col("qv")).cast("long").as("sq"),
          count(lit(1)).cast("long").as("n"))
      val glob = q.groupBy(col("pos"))
        .agg(sum(col("qv")).cast("long").as("gq"))
      def d18(c: org.apache.spark.sql.Column) = c.cast("decimal(18,0)")
      per.join(broadcast(glob), Seq("pos"))
        .groupBy(col("label"))
        .agg(max(col("n")).as("n"),
          sum(d18(col("sq")) * d18(col("gq"))).cast("decimal(38,0)").as("dxy"),
          sum(d18(col("sq")) * d18(col("sq"))).cast("decimal(38,0)").as("dxx"),
          sum(d18(col("gq")) * d18(col("gq"))).cast("decimal(38,0)").as("dyy"))
        .select(col("label"), col("n"),
          round(col("dxy").cast("double") /
            (sqrt(col("dxx").cast("double")) * sqrt(col("dyy").cast("double"))), 6)
            .as("drift_cos"))
    }),

    // per-point assignments + the model's centroids in one dump (kind =
    // 'pt' | 'ctr'): the ML fit itself is engine-specific (no SQL
    // oracle), but this shape lets the scale checker verify the VORONOI
    // INVARIANT — every point is closer to its own centroid than to any
    // other — plus k and full-coverage, in one linear pass
    // (ScaleInvariants). The centroid vector is dumped as its canonical
    // JSON-ish string ("[c0,c1,...]", shortest-round-trip doubles) rather
    // than a raw array<double>: the correctness harness canonical-sorts
    // every column, and an ndarray cell is unsortable/unhashable there;
    // the invariant SQL parses the string back losslessly.
    "emb_kmeans" -> ((s, d) => {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      import s.implicits._
      val feat = emb(s, d).select(col("vec_id"), col("label"),
        array_to_vector(col("embedding").cast("array<double>")).as("features"))
      // publishes the fit for emb_kmeans_check (FitCache): the companion
      // verifies THIS model's invariants without re-training it. The
      // published copy is SUMMARY-FREE: the fitted model's training
      // summary holds a predictions DataFrame that strongly references
      // the owning SparkSession, and a WeakHashMap value that references
      // its key pins the entry forever — the copy keeps uid, params and
      // cluster centers (all the companion reads) and drops the summary
      val model = graft.ml.FitCache.put(s, s"embKmeans:$d")(
        new KMeans().setK(10).setSeed(42L).setMaxIter(20).fit(feat)
          .copy(org.apache.spark.ml.param.ParamMap.empty))
      val pts = model.transform(feat)
        .select(lit("pt").as("kind"), col("vec_id").as("id"),
          col("prediction").cast("long").as("cluster"),
          lit(null).cast("string").as("vec"))
      val ctrs = model.clusterCenters.zipWithIndex.toSeq
        .map { case (c, i) =>
          ("ctr", i.toLong, i.toLong, c.toArray.mkString("[", ",", "]")) }
        .toDF("kind", "id", "cluster", "vec")
      pts.unionByName(ctrs)
    }),

    // hash-exact companion to emb_kmeans: the Spark side recomputes the
    // model's defining invariants (Voronoi consistency, k, coverage) as a
    // violations table; the oracle pins the expected zeros with supports
    // recomputed from the base table. This moves the engine-specific fit
    // inside the driver's exact-hash contract — the fit breaking any
    // invariant flips a violations cell and fails the hash.
    "emb_kmeans_check" -> ((s, d) => {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      import s.implicits._
      val e = emb(s, d).select(col("vec_id"),
        col("embedding").cast("array<double>").as("embv"))
      val feat = e.select(col("vec_id"), array_to_vector(col("embv")).as("features"))
      // reuses emb_kmeans' published fit when it ran this session, so the
      // bench row's work depends on sweep order (sf0.1, local[4]: 8 jobs
      // after emb_kmeans, 39 run alone)
      val model = graft.ml.FitCache.getOrFit(s, s"embKmeans:$d")(
        new KMeans().setK(10).setSeed(42L).setMaxIter(20).fit(feat))
      val assigned = model.transform(feat)
        .select(col("vec_id"), col("prediction").cast("long").as("own"))
      val ctrs = broadcast(model.clusterCenters.zipWithIndex.toSeq
        .map { case (c, i) => (i.toLong, c.toArray.toSeq) }
        .toDF("cand", "cvec"))
      // squared distance per (point, centroid) via a codegen'd HOF fold;
      // 10 centroids → the cross join is a 10x map-side expansion
      val d2 = e.join(assigned, "vec_id").crossJoin(ctrs)
        .select(col("vec_id"), col("own"), col("cand"),
          aggregate(zip_with(col("embv"), col("cvec"),
              (a, b) => (a - b) * (a - b)),
            lit(0.0), (acc, x) => acc + x).as("d2"))
      val voronoi = d2.groupBy(col("vec_id"), col("own"))
        .agg(min(when(col("cand") === col("own"), col("d2"))).as("d_own"),
          min(col("d2")).as("d_min"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("d_own").isNull ||
              col("d_own") > col("d_min") +
                lit(1e-6) * greatest(col("d_min"), lit(1.0)), 1L)
            .otherwise(0L)).as("v"))
        .select(lit("every_point_in_own_voronoi_cell").as("invariant"),
          col("v").cast("long").as("violations"),
          col("n").cast("long").as("support"))
      val kRow = Seq(("k_centroids_dumped",
        math.abs(10L - model.clusterCenters.length), 10L))
        .toDF("invariant", "violations", "support")
      val coverage = e.agg(count(lit(1)).as("ne"))
        .crossJoin(assigned.agg(count_distinct(col("vec_id")).as("na")))
        .select(lit("every_embedding_assigned_once").as("invariant"),
          abs(col("ne") - col("na")).cast("long").as("violations"),
          col("ne").cast("long").as("support"))
      voronoi.unionByName(kRow).unionByName(coverage)
    })
  )

  /** Shared SQL tail computing the recall summary row from a `brute` and
    * an approx relation over key columns (k1, k2) — mirrors recallSummary.
    */
  private def recallTailSql(approxRel: String, k1: String, k2: String): String =
    s"""SELECT CAST(count(*) AS BIGINT) AS n_brute,
       |  CAST(sum(CASE WHEN l.$k2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       |  round(CAST(sum(CASE WHEN l.$k2 IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) /
       |        CAST(count(*) AS DOUBLE), 4) AS recall
       |FROM brute b LEFT JOIN $approxRel l
       |  ON b.$k1 = l.$k1 AND b.$k2 = l.$k2""".stripMargin

  // --- SQL generation for the LSH oracle: regenerate the deterministic
  // planes and the multi-probe bucket list in DuckDB. All integer math is
  // overflow-free; the dot-product fold is list_dot_product (matches the
  // native graft_dot fold bitwise, as ann_brute proves).
  private def planesSql: String =
    Similarity.lcgPlanes(NPlanes, Dim)
      .map(p => p.map(_.toLong).mkString("[", ",", "]::DOUBLE[]"))
      .mkString("[", ", ", "]")

  private def bucketSql(v: String): String =
    (0 until NPlanes).map(i =>
      s"(CASE WHEN list_dot_product($v, planes[${i + 1}]) >= 0 THEN ${1L << i} ELSE 0 END)")
      .mkString(" + ")

  private def probeMasks: Seq[Long] = Similarity.probeMasks(NPlanes, MaxFlip)

  private def lshCte: String =
    s"""WITH planes AS (SELECT $planesSql AS planes),
       |p AS (
       |  SELECT vec_id AS probe_id, embedding::DOUBLE[] AS pe,
       |    (SELECT ${bucketSql("pe")} FROM planes) AS bucket
       |  FROM embeddings WHERE vec_id < 10
       |), c AS (
       |  SELECT vec_id AS cand_id, embedding::DOUBLE[] AS ce,
       |    (SELECT ${bucketSql("ce")} FROM planes) AS bucket
       |  FROM embeddings
       |), pm AS (
       |  SELECT probe_id, pe,
       |    unnest(${probeMasks.map(m => s"xor(bucket, $m)").mkString("[", ", ", "]")}) AS bucket
       |  FROM p
       |), ls AS (
       |  SELECT probe_id, cand_id,
       |    round(list_dot_product(pe, ce) /
       |          (sqrt(list_dot_product(pe, pe)) * sqrt(list_dot_product(ce, ce))), 6) AS sim
       |  FROM pm JOIN c USING (bucket) WHERE probe_id <> cand_id
       |), lr AS (
       |  SELECT probe_id, cand_id, sim,
       |    CAST(row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS BIGINT) AS rnk
       |  FROM ls
       |)""".stripMargin

  // RP oracle: regenerate the deterministic 32x64 projection planes and
  // the reduced vectors in DuckDB (list_dot_product per component is the
  // same sequential fold as graft_dot, so the reduced doubles are
  // bit-identical), then rank in the reduced space
  private def rpPlanesSql: String =
    Similarity.lcgPlanes(RpDim, Dim)
      .map(p => p.map(_.toLong).mkString("[", ",", "]::DOUBLE[]"))
      .mkString("[", ", ", "]")

  private def rpCte: String =
    s"""WITH rpt AS (SELECT $rpPlanesSql AS rp),
       |p AS (
       |  SELECT vec_id AS probe_id, embedding::DOUBLE[] AS pe
       |  FROM embeddings WHERE vec_id < 10
       |), c AS (
       |  SELECT vec_id AS cand_id, embedding::DOUBLE[] AS ce FROM embeddings
       |), pr AS (
       |  SELECT probe_id, pe,
       |    [list_dot_product(pe, rp[i]) for i in range(1, ${RpDim + 1})] AS rpv
       |  FROM p CROSS JOIN rpt
       |), cr AS (
       |  SELECT cand_id, ce,
       |    [list_dot_product(ce, rp[i]) for i in range(1, ${RpDim + 1})] AS rcv
       |  FROM c CROSS JOIN rpt
       |), rs AS (
       |  SELECT probe_id, cand_id, ${cosSql("rpv", "rcv")} AS sim_r
       |  FROM pr, cr WHERE probe_id <> cand_id
       |), rr AS (
       |  SELECT probe_id, cand_id, sim_r, CAST(row_number() OVER (
       |    PARTITION BY probe_id ORDER BY sim_r DESC, cand_id) AS BIGINT) AS rnk
       |  FROM rs
       |)""".stripMargin

  // RP-IVF oracle: reduced centroids = the projected first-NCells vectors
  // (taken straight from cr, so they are the very same list_dot_product
  // folds), reduced Voronoi assignment + probe-cell ranking with the
  // ivfCte tie-breaks, reduced-cosine shortlist, exact full-space rerank.
  // Split into the shared base (assignment + probe-cell ranking) and a
  // per-(nProbe, shortlist) tail so the curve oracle sweeps the serving
  // knobs over one shared assignment.
  private def rpIvfBaseCte: String =
    s"""$rpCte, rcents AS (
       |  SELECT CAST(cand_id AS BIGINT) AS cell, rcv AS rcent
       |  FROM cr WHERE cand_id < $NCells
       |), rasg AS (
       |  SELECT cand_id, rcv, cell, row_number() OVER (
       |    PARTITION BY cand_id ORDER BY ${cosSql("rcv", "rcent")} DESC, cell) AS arnk
       |  FROM cr CROSS JOIN rcents
       |), ra1 AS (
       |  SELECT cand_id, rcv, cell FROM rasg WHERE arnk = 1
       |), rpcell AS (
       |  SELECT probe_id, rpv, cell, row_number() OVER (
       |    PARTITION BY probe_id ORDER BY ${cosSql("rpv", "rcent")} DESC, cell) AS prnk
       |  FROM pr CROSS JOIN rcents
       |)""".stripMargin

  private def rpIvfTailCte(nProbe: Int, shortlist: Int, sfx: String): String =
    s""", rpq$sfx AS (
       |  SELECT probe_id, rpv, cell FROM rpcell WHERE prnk <= $nProbe
       |), rivs$sfx AS (
       |  SELECT probe_id, cand_id, ${cosSql("rpv", "rcv")} AS sim_r
       |  FROM ra1 JOIN rpq$sfx USING (cell) WHERE probe_id <> cand_id
       |), rivr$sfx AS (
       |  SELECT probe_id, cand_id, row_number() OVER (
       |    PARTITION BY probe_id ORDER BY sim_r DESC, cand_id) AS rnk
       |  FROM rivs$sfx
       |), risl$sfx AS (
       |  SELECT probe_id, cand_id FROM rivr$sfx WHERE rnk <= $shortlist
       |), rifx$sfx AS (
       |  SELECT probe_id, cand_id, ${cosSql("pe", "ce")} AS sim
       |  FROM risl$sfx JOIN p USING (probe_id) JOIN c USING (cand_id)
       |), rifr$sfx AS (
       |  SELECT probe_id, cand_id, sim, CAST(row_number() OVER (
       |    PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS BIGINT) AS rnk
       |  FROM rifx$sfx
       |)""".stripMargin

  private def rpIvfCte: String =
    rpIvfBaseCte + rpIvfTailCte(NProbe, RpShortlist, "")

  // shared CTE for the pair queries: every embedding with its exact
  // sign-LSH bucket; candidate pairs = bucket hamming <= PairFlip
  private def pairCte: String =
    s"""WITH planes AS (SELECT $planesSql AS planes),
       |v AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS e,
       |    (SELECT ${bucketSql("e")} FROM planes) AS bucket
       |  FROM embeddings
       |), cp AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    round(list_dot_product(a.e, b.e) /
       |          (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6) AS cos
       |  FROM v a JOIN v b ON a.vec_id < b.vec_id
       |   AND bit_count(xor(a.bucket, b.bucket)) <= $PairFlip
       |)""".stripMargin

  private def cosSql(a: String, b: String): String =
    s"round(list_dot_product($a, $b) / " +
      s"(sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))), 6)"

  // IVF oracle: regenerate the codebook (vec_id < NCells), assign each
  // vector to its best cell, probe the NProbe best cells, exact rank within
  private def ivfCte: String =
    s"""WITH cents AS (
       |  SELECT CAST(vec_id AS BIGINT) AS cell, embedding::DOUBLE[] AS cent
       |  FROM embeddings WHERE vec_id < $NCells
       |), c AS (
       |  SELECT vec_id AS cand_id, embedding::DOUBLE[] AS ce FROM embeddings
       |), p AS (
       |  SELECT vec_id AS probe_id, embedding::DOUBLE[] AS pe
       |  FROM embeddings WHERE vec_id < 10
       |), asg AS (
       |  SELECT cand_id, ce, cell, row_number() OVER (
       |    PARTITION BY cand_id ORDER BY ${cosSql("ce", "cent")} DESC, cell) AS arnk
       |  FROM c CROSS JOIN cents
       |), a1 AS (
       |  SELECT cand_id, ce, cell FROM asg WHERE arnk = 1
       |), pcell AS (
       |  SELECT probe_id, pe, cell, row_number() OVER (
       |    PARTITION BY probe_id ORDER BY ${cosSql("pe", "cent")} DESC, cell) AS prnk
       |  FROM p CROSS JOIN cents
       |), pq AS (
       |  SELECT probe_id, pe, cell FROM pcell WHERE prnk <= $NProbe
       |), ivs AS (
       |  SELECT probe_id, cand_id, ${cosSql("pe", "ce")} AS sim
       |  FROM a1 JOIN pq USING (cell) WHERE probe_id <> cand_id
       |), ivr AS (
       |  SELECT probe_id, cand_id, sim, CAST(row_number() OVER (
       |    PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS BIGINT) AS rnk
       |  FROM ivs
       |)""".stripMargin

  // IVF-PQ oracle: extends the IVF CTE (coarse cells for candidates `a1`
  // and probes `pq`) with the residual codebook — the residuals of
  // vectors [NCells, NCells+PqCells) against their own best cell — then
  // PQ-assigns each candidate's residual subvectors, reconstructs
  // centroid + decoded residual element-wise, and ranks by rounded
  // squared-L2 inside the probed cells (the same rounding-then-rank the
  // Spark path applies)
  private def ivfPqCte: String = {
    val dTot = PqM * PqSubDim
    s"""$ivfCte, rc AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings
       |  WHERE vec_id >= $NCells AND vec_id < ${NCells + PqCells}
       |), rasg AS (
       |  SELECT vec_id, ve, cell, row_number() OVER (
       |    PARTITION BY vec_id ORDER BY ${cosSql("ve", "cent")} DESC, cell) AS rrnk
       |  FROM rc CROSS JOIN cents
       |), rb AS (
       |  SELECT CAST(r1.vec_id - $NCells AS BIGINT) AS rcell,
       |    [r1.ve[i] - cents.cent[i] for i in range(1, ${dTot + 1})] AS resid
       |  FROM (SELECT vec_id, ve, cell FROM rasg WHERE rrnk = 1) r1
       |  JOIN cents USING (cell)
       |), rcb AS (
       |  SELECT t.m, rcell,
       |    resid[(t.m*$PqSubDim+1):(t.m*$PqSubDim+$PqSubDim)] AS rcent
       |  FROM rb, range(0, $PqM) t(m)
       |), cres AS (
       |  SELECT a1.cand_id, a1.cell, cents.cent AS ccent,
       |    [a1.ce[i] - cents.cent[i] for i in range(1, ${dTot + 1})] AS resid
       |  FROM a1 JOIN cents USING (cell)
       |), csub AS (
       |  SELECT cand_id, t.m,
       |    resid[(t.m*$PqSubDim+1):(t.m*$PqSubDim+$PqSubDim)] AS sub
       |  FROM cres, range(0, $PqM) t(m)
       |), casg AS (
       |  SELECT cand_id, csub.m, rcell, row_number() OVER (
       |    PARTITION BY cand_id, csub.m
       |    ORDER BY list_sum([(sub[i]-rcent[i])*(sub[i]-rcent[i])
       |                       for i in range(1, ${PqSubDim + 1})]), rcell) AS crnk
       |  FROM csub JOIN rcb ON csub.m = rcb.m
       |), crec AS (
       |  SELECT a.cand_id, flatten(list(rcb.rcent ORDER BY a.m)) AS rres
       |  FROM casg a JOIN rcb ON a.m = rcb.m AND a.rcell = rcb.rcell
       |  WHERE a.crnk = 1 GROUP BY a.cand_id
       |), rvv AS (
       |  SELECT cres.cand_id, cres.cell,
       |    [cres.ccent[i] + crec.rres[i] for i in range(1, ${dTot + 1})] AS rv
       |  FROM cres JOIN crec USING (cand_id)
       |), ds AS (
       |  SELECT probe_id, cand_id,
       |    round(list_sum([(pe[i]-rv[i])*(pe[i]-rv[i])
       |                    for i in range(1, ${dTot + 1})]), 6) AS dist
       |  FROM rvv JOIN pq USING (cell) WHERE probe_id <> cand_id
       |), dr AS (
       |  SELECT probe_id, cand_id, dist, CAST(row_number() OVER (
       |    PARTITION BY probe_id ORDER BY dist, cand_id) AS BIGINT) AS rnk
       |  FROM ds
       |)""".stripMargin
  }

  // PQ oracle: regenerate the subspace codebook from the first PqCells
  // vectors, assign each candidate's subvectors to their nearest centroids
  // (ordered squared-L2 comprehension — the same index-ascending fold the
  // codegen'd PqEncode runs), rebuild the reconstruction by flattening the
  // coded centroids subspace-major, and rank by the 64-term ordered
  // squared-L2 sum (= graft_sqdist's fold order)
  private def pqCte: String = {
    val dTot = PqM * PqSubDim
    s"""WITH cb AS (
       |  SELECT t.m, CAST(vec_id AS BIGINT) AS cell,
       |    (embedding::DOUBLE[])[(t.m*$PqSubDim+1):(t.m*$PqSubDim+$PqSubDim)] AS cent
       |  FROM embeddings, range(0, $PqM) t(m) WHERE vec_id < $PqCells
       |), c AS (
       |  SELECT vec_id AS cand_id, embedding::DOUBLE[] AS ce FROM embeddings
       |), csub AS (
       |  SELECT cand_id, t.m,
       |    ce[(t.m*$PqSubDim+1):(t.m*$PqSubDim+$PqSubDim)] AS sub
       |  FROM c, range(0, $PqM) t(m)
       |), asg AS (
       |  SELECT cand_id, csub.m, cell, row_number() OVER (
       |    PARTITION BY cand_id, csub.m
       |    ORDER BY list_sum([(sub[i]-cent[i])*(sub[i]-cent[i])
       |                       for i in range(1, ${PqSubDim + 1})]), cell) AS arnk
       |  FROM csub JOIN cb ON csub.m = cb.m
       |), recon AS (
       |  SELECT a.cand_id, flatten(list(cb.cent ORDER BY a.m)) AS rv
       |  FROM asg a JOIN cb ON a.m = cb.m AND a.cell = cb.cell
       |  WHERE a.arnk = 1 GROUP BY a.cand_id
       |), p AS (
       |  SELECT vec_id AS probe_id, embedding::DOUBLE[] AS pe
       |  FROM embeddings WHERE vec_id < 10
       |), ps AS (
       |  SELECT probe_id, cand_id,
       |    list_sum([(pe[i]-rv[i])*(pe[i]-rv[i]) for i in range(1, ${dTot + 1})]) AS dist
       |  FROM p, recon WHERE probe_id <> cand_id
       |), pr AS (
       |  SELECT probe_id, cand_id, dist, CAST(row_number() OVER (
       |    PARTITION BY probe_id ORDER BY dist, cand_id) AS BIGINT) AS rnk
       |  FROM ps
       |)""".stripMargin
  }

  // quantized-domain CTE: fixed-point vectors + their exact integer-domain
  // ranking (components and dot sums are exactly representable doubles)
  private def quantCte: String =
    s"""WITH p AS (
       |  SELECT vec_id AS probe_id,
       |    [floor(x*$QuantScale) for x in embedding::DOUBLE[]] AS pe
       |  FROM embeddings WHERE vec_id < 10
       |), c AS (
       |  SELECT vec_id AS cand_id,
       |    [floor(x*$QuantScale) for x in embedding::DOUBLE[]] AS ce
       |  FROM embeddings
       |), qs AS (
       |  SELECT probe_id, cand_id,
       |    round(list_dot_product(pe, ce) /
       |          (sqrt(list_dot_product(pe, pe)) * sqrt(list_dot_product(ce, ce))), 6) AS sim_q
       |  FROM p JOIN c ON probe_id <> cand_id
       |), qr AS (
       |  SELECT probe_id, cand_id, sim_q,
       |    CAST(row_number() OVER (PARTITION BY probe_id ORDER BY sim_q DESC, cand_id) AS BIGINT) AS rnk
       |  FROM qs
       |)""".stripMargin

  val oracles: Map[String, String] = Map(
    "ann_pq" ->
      s"""$pqCte
         |SELECT probe_id, cand_id, round(dist, 6) AS dist, rnk
         |FROM pr WHERE rnk <= $TopK""".stripMargin,

    "ann_pq_recall" ->
      s"""$pqCte, pq AS (
         |  SELECT probe_id, cand_id FROM pr WHERE rnk <= $TopK
         |), bs AS (
         |  SELECT probe_id, cand_id,
         |    list_sum([(pe[i]-ce[i])*(pe[i]-ce[i])
         |              for i in range(1, ${PqM * PqSubDim + 1})]) AS dist
         |  FROM p, c WHERE probe_id <> cand_id
         |), br AS (
         |  SELECT probe_id, cand_id, row_number() OVER (
         |    PARTITION BY probe_id ORDER BY dist, cand_id) AS rnk
         |  FROM bs
         |), brute AS (
         |  SELECT probe_id, cand_id FROM br WHERE rnk <= $TopK
         |)
         |${recallTailSql("pq", "probe_id", "cand_id")}""".stripMargin,

    "ann_quant" ->
      s"$quantCte\nSELECT probe_id, cand_id, sim_q, rnk FROM qr WHERE rnk <= $TopK",

    "ann_quant_recall" ->
      s"""$quantCte, quant AS (
         |  SELECT probe_id, cand_id FROM qr WHERE rnk <= $TopK
         |), fp AS (
         |  SELECT vec_id AS probe_id, embedding::DOUBLE[] AS fe
         |  FROM embeddings WHERE vec_id < 10
         |), fc AS (
         |  SELECT vec_id AS cand_id, embedding::DOUBLE[] AS fce FROM embeddings
         |), fs AS (
         |  SELECT probe_id, cand_id,
         |    round(list_dot_product(fe, fce) /
         |          (sqrt(list_dot_product(fe, fe)) * sqrt(list_dot_product(fce, fce))), 6) AS sim
         |  FROM fp JOIN fc ON probe_id <> cand_id
         |), fr AS (
         |  SELECT probe_id, cand_id,
         |    row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS rnk
         |  FROM fs
         |), brute AS (
         |  SELECT probe_id, cand_id FROM fr WHERE rnk <= $TopK
         |)
         |${recallTailSql("quant", "probe_id", "cand_id")}""".stripMargin,

    "emb_project" ->
      s"""WITH rpt AS (SELECT $rpPlanesSql AS rp),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
         |SELECT vec_id, CAST(t.j AS BIGINT) AS dim_j,
         |  round(list_dot_product(e, rp[t.j + 1]), 6) AS comp
         |FROM e CROSS JOIN rpt, range(0, $RpDim) t(j)""".stripMargin,

    "ann_rp" ->
      s"$rpCte\nSELECT probe_id, cand_id, sim_r, rnk FROM rr WHERE rnk <= $TopK",

    "ann_rp_recall" ->
      s"""$rpCte, rp10 AS (
         |  SELECT probe_id, cand_id FROM rr WHERE rnk <= $TopK
         |), bs AS (
         |  SELECT probe_id, cand_id, ${cosSql("pe", "ce")} AS sim
         |  FROM p, c WHERE probe_id <> cand_id
         |), br AS (
         |  SELECT probe_id, cand_id, row_number() OVER (
         |    PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS rnk
         |  FROM bs
         |), brute AS (SELECT probe_id, cand_id FROM br WHERE rnk <= $TopK)
         |${recallTailSql("rp10", "probe_id", "cand_id")}""".stripMargin,

    "ann_rp_rerank" ->
      s"""$rpCte, sl AS (
         |  SELECT probe_id, cand_id FROM rr WHERE rnk <= $RpShortlist
         |), fx AS (
         |  SELECT probe_id, cand_id, ${cosSql("pe", "ce")} AS sim
         |  FROM sl JOIN p USING (probe_id) JOIN c USING (cand_id)
         |), fr AS (
         |  SELECT probe_id, cand_id, sim, CAST(row_number() OVER (
         |    PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS BIGINT) AS rnk
         |  FROM fx
         |)
         |SELECT probe_id, cand_id, sim, rnk FROM fr WHERE rnk <= $TopK""".stripMargin,

    "ann_rp_rerank_recall" ->
      s"""$rpCte, sl AS (
         |  SELECT probe_id, cand_id FROM rr WHERE rnk <= $RpShortlist
         |), fx AS (
         |  SELECT probe_id, cand_id, ${cosSql("pe", "ce")} AS sim
         |  FROM sl JOIN p USING (probe_id) JOIN c USING (cand_id)
         |), fr AS (
         |  SELECT probe_id, cand_id, row_number() OVER (
         |    PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS rnk
         |  FROM fx
         |), rrk AS (
         |  SELECT probe_id, cand_id FROM fr WHERE rnk <= $TopK
         |), bs AS (
         |  SELECT probe_id, cand_id, ${cosSql("pe", "ce")} AS sim
         |  FROM p, c WHERE probe_id <> cand_id
         |), br AS (
         |  SELECT probe_id, cand_id, row_number() OVER (
         |    PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS rnk
         |  FROM bs
         |), brute AS (SELECT probe_id, cand_id FROM br WHERE rnk <= $TopK)
         |${recallTailSql("rrk", "probe_id", "cand_id")}""".stripMargin,

    "ann_rp_ivf" ->
      s"$rpIvfCte\nSELECT probe_id, cand_id, sim, rnk FROM rifr WHERE rnk <= $TopK",

    // the persisted reduced store reproduces ann_rp_ivf bit-for-bit
    // (doubles round-trip parquet exactly), so it shares the oracle
    "ann_rp_ivf_store" ->
      s"$rpIvfCte\nSELECT probe_id, cand_id, sim, rnk FROM rifr WHERE rnk <= $TopK",

    "ann_rp_ivf_recall" ->
      s"""$rpIvfCte, rivf AS (
         |  SELECT probe_id, cand_id FROM rifr WHERE rnk <= $TopK
         |), bs AS (
         |  SELECT probe_id, cand_id, ${cosSql("pe", "ce")} AS sim
         |  FROM p, c WHERE probe_id <> cand_id
         |), br AS (
         |  SELECT probe_id, cand_id, row_number() OVER (
         |    PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS rnk
         |  FROM bs
         |), brute AS (SELECT probe_id, cand_id FROM br WHERE rnk <= $TopK)
         |${recallTailSql("rivf", "probe_id", "cand_id")}""".stripMargin,

    "ann_rp_ivf_curve" -> {
      val tails = Seq(1, 2, 4, 8)
        .map(n => rpIvfTailCte(n, RpShortlist, s"_$n")).mkString
      val rows = Seq(1, 2, 4, 8).map { n =>
        s"""SELECT CAST(count(*) AS BIGINT) AS n_brute,
           |  CAST(sum(CASE WHEN l.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           |  round(CAST(sum(CASE WHEN l.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) /
           |        CAST(count(*) AS DOUBLE), 4) AS recall,
           |  CAST($n AS BIGINT) AS nprobe
           |FROM brute b LEFT JOIN (
           |  SELECT probe_id, cand_id FROM rifr_$n WHERE rnk <= $TopK) l
           |  ON b.probe_id = l.probe_id AND b.cand_id = l.cand_id""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""$rpIvfBaseCte$tails, bs AS (
         |  SELECT probe_id, cand_id, ${cosSql("pe", "ce")} AS sim
         |  FROM p, c WHERE probe_id <> cand_id
         |), br AS (
         |  SELECT probe_id, cand_id, row_number() OVER (
         |    PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS rnk
         |  FROM bs
         |), brute AS (SELECT probe_id, cand_id FROM br WHERE rnk <= $TopK)
         |$rows""".stripMargin
    },

    "ann_rp_sl_curve" -> {
      val sls = Seq(10, 25, 50, 100)
      val tails = sls.map(sl => rpIvfTailCte(NProbe, sl, s"_sl$sl")).mkString
      val rows = sls.map { sl =>
        s"""SELECT CAST(count(*) AS BIGINT) AS n_brute,
           |  CAST(sum(CASE WHEN l.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           |  round(CAST(sum(CASE WHEN l.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) /
           |        CAST(count(*) AS DOUBLE), 4) AS recall,
           |  CAST($sl AS BIGINT) AS shortlist
           |FROM brute b LEFT JOIN (
           |  SELECT probe_id, cand_id FROM rifr_sl$sl WHERE rnk <= $TopK) l
           |  ON b.probe_id = l.probe_id AND b.cand_id = l.cand_id""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""$rpIvfBaseCte$tails, bs AS (
         |  SELECT probe_id, cand_id, ${cosSql("pe", "ce")} AS sim
         |  FROM p, c WHERE probe_id <> cand_id
         |), br AS (
         |  SELECT probe_id, cand_id, row_number() OVER (
         |    PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS rnk
         |  FROM bs
         |), brute AS (SELECT probe_id, cand_id FROM br WHERE rnk <= $TopK)
         |$rows""".stripMargin
    },

    "ann_ivf" ->
      s"$ivfCte\nSELECT probe_id, cand_id, sim, rnk FROM ivr WHERE rnk <= $TopK",

    "ann_ivf_curve" -> {
      val perN = Seq(1, 2, 4, 8).map { n =>
        s"""q$n AS (
           |  SELECT probe_id, pe, cell FROM pcell WHERE prnk <= $n
           |), s$n AS (
           |  SELECT probe_id, cand_id, ${cosSql("pe", "ce")} AS sim
           |  FROM a1 JOIN q$n USING (cell) WHERE probe_id <> cand_id
           |), r$n AS (
           |  SELECT probe_id, cand_id, row_number() OVER (
           |    PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS rnk
           |  FROM s$n
           |), t$n AS (SELECT probe_id, cand_id FROM r$n WHERE rnk <= $TopK)""".stripMargin
      }.mkString(", ")
      val rows = Seq(1, 2, 4, 8).map { n =>
        s"""SELECT CAST(count(*) AS BIGINT) AS n_brute,
           |  CAST(sum(CASE WHEN l.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           |  round(CAST(sum(CASE WHEN l.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) /
           |        CAST(count(*) AS DOUBLE), 4) AS recall,
           |  CAST($n AS BIGINT) AS nprobe
           |FROM brute b LEFT JOIN t$n l
           |  ON b.probe_id = l.probe_id AND b.cand_id = l.cand_id""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""$ivfCte, bs AS (
         |  SELECT probe_id, cand_id, ${cosSql("pe", "ce")} AS sim
         |  FROM p JOIN c ON probe_id <> cand_id
         |), br AS (
         |  SELECT probe_id, cand_id, row_number() OVER (
         |    PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS rnk
         |  FROM bs
         |), brute AS (SELECT probe_id, cand_id FROM br WHERE rnk <= $TopK),
         |$perN
         |$rows""".stripMargin
    },

    "ann_ivf_adaptive" ->
      s"""$ivfCte, cszs AS (
         |  SELECT cell, CAST(count(*) AS BIGINT) AS csz FROM a1 GROUP BY 1
         |), tot AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n FROM c
         |), pcs AS (
         |  SELECT probe_id, pe, pcell.cell, prnk, coalesce(cszs.csz, 0) AS csz
         |  FROM pcell LEFT JOIN cszs USING (cell)
         |), pcum AS (
         |  SELECT *, coalesce(sum(csz) OVER (
         |    PARTITION BY probe_id ORDER BY prnk
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_cum
         |  FROM pcs
         |), pq2 AS (
         |  SELECT probe_id, pe, cell FROM pcum, tot WHERE prev_cum < 0.25 * n
         |), avs AS (
         |  SELECT probe_id, cand_id, ${cosSql("pe", "ce")} AS sim
         |  FROM a1 JOIN pq2 USING (cell) WHERE probe_id <> cand_id
         |), avr AS (
         |  SELECT probe_id, cand_id, sim, CAST(row_number() OVER (
         |    PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS BIGINT) AS rnk
         |  FROM avs
         |)
         |SELECT probe_id, cand_id, sim, rnk FROM avr WHERE rnk <= $TopK""".stripMargin,

    "ann_ivfpq" ->
      s"$ivfPqCte\nSELECT probe_id, cand_id, dist, rnk FROM dr WHERE rnk <= $TopK",

    // the PQ store serves the identical result set (same cells, same
    // codes, same reconstruction and ties) — one oracle covers both
    "ann_ivfpq_store" ->
      s"$ivfPqCte\nSELECT probe_id, cand_id, dist, rnk FROM dr WHERE rnk <= $TopK",

    "ann_ivfpq_recall" ->
      s"""$ivfPqCte, ivfpq AS (
         |  SELECT probe_id, cand_id FROM dr WHERE rnk <= $TopK
         |), bs AS (
         |  SELECT probe_id, cand_id,
         |    list_sum([(pe[i]-ce[i])*(pe[i]-ce[i])
         |              for i in range(1, ${PqM * PqSubDim + 1})]) AS dist
         |  FROM p, c WHERE probe_id <> cand_id
         |), br AS (
         |  SELECT probe_id, cand_id, row_number() OVER (
         |    PARTITION BY probe_id ORDER BY dist, cand_id) AS rnk
         |  FROM bs
         |), brute AS (
         |  SELECT probe_id, cand_id FROM br WHERE rnk <= $TopK
         |)
         |${recallTailSql("ivfpq", "probe_id", "cand_id")}""".stripMargin,

    // the store serves the identical result set (same cells, same
    // scoring, same ties) — one oracle covers both paths
    "ann_ivf_store" ->
      s"$ivfCte\nSELECT probe_id, cand_id, sim, rnk FROM ivr WHERE rnk <= $TopK",

    "ann_ivf_recall" ->
      s"""$ivfCte, ivf AS (
         |  SELECT probe_id, cand_id FROM ivr WHERE rnk <= $TopK
         |), bs AS (
         |  SELECT p.probe_id, c.cand_id, ${cosSql("pe", "ce")} AS sim
         |  FROM p JOIN c ON probe_id <> cand_id
         |), br AS (
         |  SELECT probe_id, cand_id, row_number() OVER (
         |    PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS rnk
         |  FROM bs
         |), brute AS (
         |  SELECT probe_id, cand_id FROM br WHERE rnk <= $TopK
         |)
         |${recallTailSql("ivf", "probe_id", "cand_id")}""".stripMargin,

    "dedup_embedding" ->
      s"$pairCte\nSELECT vec_a, vec_b, cos FROM cp WHERE cos >= $DupThreshold",

    // SemDeDup recomputed: same codebook + cell argmax as the IVF oracle,
    // within-cell pairs at the dup threshold, recursive min-label closure
    "dedup_semantic" ->
      s"""WITH RECURSIVE cents AS (
         |  SELECT CAST(vec_id AS BIGINT) AS cell, embedding::DOUBLE[] AS cent
         |  FROM embeddings WHERE vec_id < $NCells
         |), c AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
         |), asg AS (
         |  -- ROUNDED cosine in the argmax: the engine's cellScore ranks by
         |  -- Similarity.cosine, which rounds to 6 (ties -> lowest cell id
         |  -- in both engines), so the oracle must round identically
         |  SELECT vec_id, e, cell, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY ${cosSql("e", "cent")} DESC, cell) AS arnk
         |  FROM c CROSS JOIN cents
         |), a1 AS (
         |  SELECT vec_id, e, cell FROM asg WHERE arnk = 1
         |), pr AS (
         |  SELECT a.vec_id AS va, b.vec_id AS vb
         |  FROM a1 a JOIN a1 b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE ${cosSql("a.e", "b.e")} >= $DupThreshold
         |), ed AS (
         |  SELECT va AS src, vb AS dst FROM pr
         |  UNION ALL SELECT vb, va FROM pr
         |), reach AS (
         |  SELECT DISTINCT src AS id, src AS r FROM ed
         |  UNION
         |  SELECT ed.src AS id, reach.r FROM ed JOIN reach ON reach.id = ed.dst
         |), comp AS (
         |  SELECT id, min(r) AS component FROM reach GROUP BY id
         |)
         |SELECT a1.vec_id, a1.cell,
         |  CAST(coalesce(comp.component, a1.vec_id) AS BIGINT) AS component,
         |  (coalesce(comp.component, a1.vec_id) = a1.vec_id) AS keeper
         |FROM a1 LEFT JOIN comp ON comp.id = a1.vec_id""".stripMargin,

    "dedup_emb_recall" ->
      s"""$pairCte, lshp AS (
         |  SELECT vec_a, vec_b FROM cp WHERE cos >= $DupThreshold
         |), bp AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |    round(list_dot_product(a.e, b.e) /
         |          (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6) AS cos
         |  FROM v a JOIN v b ON a.vec_id < b.vec_id
         |), brute AS (
         |  SELECT vec_a, vec_b FROM bp WHERE cos >= $DupThreshold
         |)
         |${recallTailSql("lshp", "vec_a", "vec_b")}""".stripMargin,

    "ann_lsh" ->
      s"$lshCte\nSELECT probe_id, cand_id, sim, rnk FROM lr WHERE rnk <= $TopK",

    "ann_recall" ->
      s"""$lshCte, lsh AS (
         |  SELECT probe_id, cand_id FROM lr WHERE rnk <= $TopK
         |), bs AS (
         |  SELECT p.probe_id, c.cand_id,
         |    round(list_dot_product(pe, ce) /
         |          (sqrt(list_dot_product(pe, pe)) * sqrt(list_dot_product(ce, ce))), 6) AS sim
         |  FROM p JOIN c ON probe_id <> cand_id
         |), br AS (
         |  SELECT probe_id, cand_id,
         |    row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS rnk
         |  FROM bs
         |), brute AS (
         |  SELECT probe_id, cand_id FROM br WHERE rnk <= $TopK
         |)
         |${recallTailSql("lsh", "probe_id", "cand_id")}""".stripMargin,

    "ann_brute" ->
      """WITH p AS (
        |  SELECT vec_id AS probe_id, embedding::DOUBLE[] AS pe
        |  FROM embeddings WHERE vec_id < 10
        |), c AS (
        |  SELECT vec_id AS cand_id, embedding::DOUBLE[] AS ce FROM embeddings
        |), s AS (
        |  SELECT probe_id, cand_id,
        |    round(list_dot_product(pe, ce) /
        |          (sqrt(list_dot_product(pe, pe)) * sqrt(list_dot_product(ce, ce))), 6) AS sim
        |  FROM p JOIN c ON probe_id <> cand_id
        |), r AS (
        |  SELECT probe_id, cand_id, sim,
        |    CAST(row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS BIGINT) AS rnk
        |  FROM s
        |)
        |SELECT probe_id, cand_id, sim, rnk FROM r WHERE rnk <= 10""".stripMargin,

    "emb_norm" ->
      """SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
        |  round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS l2
        |FROM embeddings""".stripMargin,

    "emb_knn_1nn" ->
      """WITH t AS (
        |  SELECT vec_id AS test_id, embedding::DOUBLE[] AS te,
        |         CAST(label AS BIGINT) AS true_label
        |  FROM embeddings WHERE vec_id % 5 = 0
        |), tr AS (
        |  SELECT vec_id AS train_id, embedding::DOUBLE[] AS tre,
        |         CAST(label AS BIGINT) AS train_label
        |  FROM embeddings WHERE vec_id % 5 <> 0
        |), s AS (
        |  SELECT test_id, true_label, train_id, train_label,
        |    round(list_distance(te, tre), 6) AS dist
        |  FROM t JOIN tr ON test_id <> train_id
        |), r AS (
        |  SELECT test_id, train_label, true_label,
        |    row_number() OVER (PARTITION BY test_id ORDER BY dist, train_id) AS rnk
        |  FROM s
        |)
        |SELECT test_id, train_label AS pred_label, true_label FROM r WHERE rnk = 1""".stripMargin,

    "emb_label_drift" ->
      """WITH qe AS (
        |  SELECT CAST(label AS BIGINT) AS label,
        |    [floor(x * 64) for x in embedding::DOUBLE[]] AS qv
        |  FROM embeddings
        |), ex AS (
        |  SELECT label, t.i AS pos, CAST(qv[CAST(t.i AS INT) + 1] AS BIGINT) AS q
        |  FROM qe, range(0, 64) t(i)
        |), per AS (
        |  SELECT label, pos, CAST(sum(q) AS BIGINT) AS sq,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM ex GROUP BY 1, 2
        |), gl AS (
        |  SELECT pos, CAST(sum(q) AS BIGINT) AS gq FROM ex GROUP BY 1
        |), j AS (
        |  SELECT label, max(n) AS n,
        |    CAST(sum(sq * gq) AS BIGINT) AS dxy,
        |    CAST(sum(sq * sq) AS BIGINT) AS dxx,
        |    CAST(sum(gq * gq) AS BIGINT) AS dyy
        |  FROM per JOIN gl USING (pos) GROUP BY 1
        |)
        |SELECT label, CAST(n AS BIGINT) AS n,
        |  round(CAST(dxy AS DOUBLE) /
        |        (sqrt(CAST(dxx AS DOUBLE)) * sqrt(CAST(dyy AS DOUBLE))), 6)
        |    AS drift_cos
        |FROM j""".stripMargin,

    // expected invariant outcome for the kmeans fit: zero violations,
    // with the point-level supports recomputed from the base table (the
    // Spark side derives them from the model's assignment output)
    "emb_kmeans_check" ->
      """SELECT 'every_point_in_own_voronoi_cell' AS invariant,
        |  CAST(0 AS BIGINT) AS violations,
        |  (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS support
        |UNION ALL
        |SELECT 'k_centroids_dumped', CAST(0 AS BIGINT), CAST(10 AS BIGINT)
        |UNION ALL
        |SELECT 'every_embedding_assigned_once', CAST(0 AS BIGINT),
        |  (SELECT CAST(count(*) AS BIGINT) FROM embeddings)""".stripMargin,

    "emb_knn_confusion" ->
      """WITH t AS (
        |  SELECT vec_id AS test_id, embedding::DOUBLE[] AS te,
        |         CAST(label AS BIGINT) AS true_label
        |  FROM embeddings WHERE vec_id % 5 = 0
        |), tr AS (
        |  SELECT vec_id AS train_id, embedding::DOUBLE[] AS tre,
        |         CAST(label AS BIGINT) AS train_label
        |  FROM embeddings WHERE vec_id % 5 <> 0
        |), s AS (
        |  SELECT test_id, true_label, train_id, train_label,
        |    round(list_distance(te, tre), 6) AS dist
        |  FROM t JOIN tr ON test_id <> train_id
        |), r AS (
        |  SELECT test_id, train_label, true_label,
        |    row_number() OVER (PARTITION BY test_id ORDER BY dist, train_id) AS rnk
        |  FROM s
        |)
        |SELECT true_label, train_label AS pred_label,
        |  CAST(count(*) AS BIGINT) AS cnt
        |FROM r WHERE rnk = 1 GROUP BY 1, 2""".stripMargin
  )
}
