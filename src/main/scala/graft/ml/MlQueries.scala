package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Readings

/** Driver-facing registrations for the ML/policy surface (M3/M4/M5).
  * These are model-training / generator / estimator ops — not
  * SQL-expressible — so they are rows-only entries backed by ScalaTest
  * quality assertions (MlSpec).
  */
object MlQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // M3: classifier suite on embeddings (labels are synthetic; the
    // deliverable is the deterministic train/eval pipeline shape). The
    // dump carries BOTH the accuracy summary rows (kind='acc') and the
    // decision tree's per-test-point predictions (kind='pred'), so the
    // scale checker can verify the reported accuracy IS the prediction
    // dump's hit rate — the ML fit stays engine-specific, its accounting
    // does not (ScaleInvariants)
    "ml_classifiers" -> ((s, d) => FitCache.putDf(s, s"classifiersDump:$d")(
      classifiersDump(s, d))),

    // hash-exact companion to ml_classifiers: the Spark side recomputes
    // the dump's accounting invariants as a violations table (the fit
    // stays engine-specific; the checks are what the driver can pin).
    // Every violation is an exact-integer comparison: dt accuracy is an
    // integer-count ratio, so equality against the recomputed hit rate
    // holds bitwise or not at all.
    // reuses ml_classifiers' published dump when that query already ran
    // this session (FitCache) — a full sweep pays the classifier
    // training once, not once per companion. So the bench row's work
    // depends on sweep order (sf0.1, local[4]: 11 jobs after
    // ml_classifiers, 40 run alone); its prior only holds for a full sweep.
    "ml_classifiers_check" -> ((s, d) => {
      import s.implicits._
      val dump = FitCache.getOrFitDf(s, s"classifiersDump:$d")(
        classifiersDump(s, d))
      val acc = dump.where(col("kind") === "acc").select("model", "accuracy")
      val unit = acc
        .agg(sum(when(col("accuracy") < 0.0 || col("accuracy") > 1.0, 1L)
            .otherwise(0L)).as("v"),
          sum(when(col("model").isin("decision_tree", "random_forest"), 1L)
            .otherwise(0L)).as("n"))
        .select(lit("accuracies_in_unit_interval").as("invariant"),
          col("v").cast("long").as("violations"),
          col("n").cast("long").as("support"))
      val rate = dump.where(col("kind") === "pred")
        .agg(avg((col("prediction") === col("label")).cast("double")).as("r"))
      val dtMatch = acc.where(col("model") === "decision_tree")
        .crossJoin(rate)
        .agg(sum(when(col("accuracy") =!= col("r"), 1L).otherwise(0L)).as("v"),
          count(lit(1)).as("n"))
        .select(lit("dt_accuracy_matches_prediction_dump").as("invariant"),
          col("v").cast("long").as("violations"),
          col("n").cast("long").as("support"))
      val present = acc
        .agg((lit(2L) - count_distinct(when(
            col("model").isin("decision_tree", "random_forest"),
            col("model")))).as("v"))
        .select(lit("tree_and_forest_rows_present").as("invariant"),
          col("v").cast("long").as("violations"),
          lit(2L).as("support"))
      // the hash split must partition the base table: train + test + pred
      // accounting closes against the embeddings row count
      val e = Tables.embeddings(s, d)
      val feats = e.select(
        org.apache.spark.ml.functions.array_to_vector(
          col("embedding").cast("array<double>")).as("features"))
      val nTrain = feats.where(pmod(hash(col("features")), lit(5)) =!= 0).count()
      val nTest = feats.where(pmod(hash(col("features")), lit(5)) === 0).count()
      val coverage = e.agg(count(lit(1)).as("ne"))
        .select(lit("train_test_partition_covers_embeddings").as("invariant"),
          abs(col("ne") - lit(nTrain + nTest)).cast("long").as("violations"),
          col("ne").cast("long").as("support"))
      unit.unionByName(dtMatch).unionByName(present).unionByName(coverage)
    }),

    "ml_kmeans_purity" -> ((s, d) => FitCache.putDf(s, s"kmeansPurity:$d")(
      Classifiers.kmeansPurity(
        Classifiers.featuresFrame(Tables.embeddings(s, d), "embedding", "label"),
        k = 10))),

    // hash-exact companion to ml_kmeans_purity: purity is structurally
    // >= the global majority-label share and <= 1. The Spark side
    // recomputes both bounds from the fit + base table; the oracle pins
    // zero violations and recomputes the share bound itself (an exact
    // IEEE division of the same two integers on both sides).
    "ml_kmeans_purity_check" -> ((s, d) => {
      import s.implicits._
      // reuses ml_kmeans_purity's published fit when it ran this session,
      // so the bench row's work depends on sweep order (sf0.1, local[4]:
      // 6 jobs after ml_kmeans_purity, 42 run alone)
      val purity = FitCache.getOrFitDf(s, s"kmeansPurity:$d")(
        Classifiers.kmeansPurity(
          Classifiers.featuresFrame(Tables.embeddings(s, d),
            "embedding", "label"),
          k = 10)).collect()(0).getDouble(2)
      val share = Tables.embeddings(s, d)
        .groupBy(col("label")).agg(count(lit(1)).as("c"))
        .agg((max(col("c")).cast("double") / sum(col("c")).cast("double"))
          .as("share")).collect()(0).getDouble(0)
      Seq(
        ("purity_at_least_majority_label_share",
          if (purity < share) 1L else 0L, share),
        ("purity_at_most_one", if (purity > 1.0) 1L else 0L, 1.0))
        .toDF("invariant", "violations", "bound")
    }),

    // M4: deterministic outlier fixture — output its summary stats plus a
    // full-column checksum (sum of the quantized uniform draws) so the
    // oracle pins every row's hash value, not just the extremes
    "ml_outlier_fixture" -> ((s, _) =>
      Fixtures.outlierColumn(s, 10000L, 0.1)
        .agg(count(lit(1)).as("n"),
          sum(col("is_outlier").cast("long")).as("n_outliers"),
          max(col("value")).as("vmax"),
          sum(Fixtures.mix32(col("row_id"), 1L) % 1000000L).as("sum_u"))),

    // the driver-visible quality gate, as pass/fail booleans against
    // floors an all-true oracle can pin. Floors must be ROBUST to hold at
    // every SF, so each gate is chosen for a guaranteed margin:
    //  - dt_ok/rf_ok: classifier accuracy >= 0.9 on a DETERMINISTIC
    //    separable 3-blob fixture (seeded, sf-independent; measured ~1.0)
    //    — gating the training machinery itself. The real-embedding
    //    accuracies stay visible in ml_classifiers, but they measure
    //    ~chance (the testdata labels are nearly unrecoverable: 0.07-0.15
    //    across SFs), so a fixed floor there would gate noise.
    //  - purity_ok: KMeans purity on the REAL embeddings >= 0.12 — purity
    //    is structurally >= the global majority-label share (~0.118), and
    //    measures 0.15-0.17, so the floor holds wherever the label
    //    distribution does.
    "ml_quality_gate" -> ((s, d) => {
      import s.implicits._
      val rnd = new scala.util.Random(5)
      val rows = for { label <- 0 until 3; _ <- 0 until 200 } yield {
        val cx = label * 10.0
        (Array(cx + rnd.nextGaussian(), cx + rnd.nextGaussian()), label.toLong)
      }
      val blobs = Classifiers.featuresFrame(rows.toDF("vec", "label"), "vec", "label")
      val train = blobs.where(pmod(hash(col("features")), lit(5)) =!= 0)
      val test = blobs.where(pmod(hash(col("features")), lit(5)) === 0)
      val accs = Classifiers.trainEval(train, test).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      // the purity term is EXACTLY ml_kmeans_purity's published artifact
      // (same featuresFrame + seeded k=10 fit), so the gate reuses it
      // through the FitCache companion mechanism when that query already
      // ran this session, and refits identically when standalone — a
      // full sweep pays the embeddings KMeans once, not three times
      // (purity + its _check + this gate). So the bench row's work depends
      // on sweep order (sf0.1, local[4]: 29 jobs after ml_kmeans_purity,
      // 65 run alone); its prior only holds for a full sweep.
      val purity = FitCache.getOrFitDf(s, s"kmeansPurity:$d")(
        Classifiers.kmeansPurity(
          Classifiers.featuresFrame(Tables.embeddings(s, d),
            "embedding", "label"),
          k = 10)).collect()(0).getDouble(2)
      Seq((accs("decision_tree") >= 0.9, accs("random_forest") >= 0.9,
        purity >= 0.12)).toDF("dt_ok", "rf_ok", "purity_ok")
    }),

    // M5: per-codec compression-ratio estimates over a hash-gated sample
    // of the readings — fully deterministic, so even this policy estimator
    // carries an exact oracle (CrPredictor.estimateSql)
    "ml_cr_predict" -> ((s, d) =>
      CrPredictor.estimate(Readings.of(s, d), sampleFraction = 0.5,
        scale = Readings.Scale)),

    // M5b: the MAB codec chooser itself (MABcompression_daemon.rs) as a
    // deterministic e-greedy replay — distributed reward aggregation +
    // driver-side policy walk over the bounded decision stream
    "ml_bandit_replay" -> ((s, d) =>
      Bandit.egreedyReplay(Readings.of(s, d))),

    // M5c: the RECODING bandit twin (MABrecoding_daemon.rs) — arms are
    // lossy recode transforms, rewards are CR gain minus the clamped
    // MEASURED per-segment reconstruction error (buffer_pool.rs:940-1260)
    "ml_bandit_recode" -> ((s, d) =>
      Bandit.recodeReplay(Readings.of(s, d))),

    // M5c banded: one independent walk per current-CR band, the
    // reference's bestarms-(0.25, 0.125, below) shape
    "ml_bandit_recode_band" -> ((s, d) =>
      Bandit.recodeBandReplay(Readings.of(s, d))),

    // M3: DBSCAN over the deterministic 3-blob + noise fixture — grid-
    // bucketed candidate join, min-label components; exactly reproducible
    // in SQL (all-pairs is fine at oracle scale, never on the engine side)
    "ml_dbscan" -> ((s, _) =>
      Dbscan.dbscan(Dbscan.fixture(s), eps = 5.0, minPts = 4)),

    // M4b: deterministic isolation forest over PAA-4 segment features —
    // the reference lossy-ML study's outlier detector
    // (lossyML/src/file_io.rs:261 build_iforest), hash-derandomized so
    // the oracle regrows the identical forest
    "ml_iforest" -> ((s, d) =>
      IsolationForest.scores(IsolationForest.paaFeatures(Readings.of(s, d)),
        Seq("signal_id", "seg"), Seq("f0", "f1", "f2", "f3"))),

    // the fixed-ψ knob itself: a forest grown on ψ=64 points per tree
    // (vs the 256 default) — Liu et al.'s subsample-size parameter, the
    // quantity that keeps fit cost independent of data size; the oracle
    // regrows the ψ=64 forest and must match every score
    "ml_iforest_psi" -> ((s, d) =>
      IsolationForest.scores(IsolationForest.paaFeatures(Readings.of(s, d)),
        Seq("signal_id", "seg"), Seq("f0", "f1", "f2", "f3"), psi = 64)),

    // the serving shape: top-20 anomalies by score (deterministic
    // tiebreak), the rows an operator would actually page through
    "ml_iforest_top" -> ((s, d) =>
      IsolationForest.scores(IsolationForest.paaFeatures(Readings.of(s, d)),
        Seq("signal_id", "seg"), Seq("f0", "f1", "f2", "f3"))
        .orderBy(col("score").desc, col("signal_id"), col("seg"))
        .limit(20)),

    // the train/serve split (build_iforest on the landed half,
    // predict_iforest over everything): the forest grows only on
    // even-signal subsample points, yet scores every segment — the exact
    // shape of scoring NEW data against a FROZEN model
    "ml_iforest_serve" -> ((s, d) =>
      IsolationForest.scores(IsolationForest.paaFeatures(Readings.of(s, d)),
        Seq("signal_id", "seg"), Seq("f0", "f1", "f2", "f3"),
        fitFilter = col("signal_id") % 2 === 0)),

    // persisted-model serving: fit on the even-signal half, save the
    // bounded model to parquet, load it back, score everything — same
    // semantics as ml_iforest_serve (shared oracle shape), proving the
    // stored model serves identically across sessions
    "ml_iforest_store" -> ((s, d) => {
      val path = java.nio.file.Files.createTempDirectory("graft-iforest").toString
      val feats = IsolationForest.paaFeatures(Readings.of(s, d))
      val model = IsolationForest.fit(feats, Seq("signal_id", "seg"),
        Seq("f0", "f1", "f2", "f3"), fitFilter = col("signal_id") % 2 === 0)
      IsolationForest.save(s, model, path)
      IsolationForest.scoreWithModel(feats, Seq("signal_id", "seg"),
        Seq("f0", "f1", "f2", "f3"), IsolationForest.load(s, path))
    }),

    // embedding-space outliers: the same forest over the full 64-dim
    // document embeddings — the curation signal that flags anomalous
    // documents before training (and the iForest-on-embedding-features
    // leg of the reference study, file_io.rs:80 read_fftfile et al.)
    "emb_iforest" -> ((s, d) => {
      val feats = Tables.embeddings(s, d).select(col("vec_id") +:
        (0 until 64).map(i =>
          element_at(col("embedding"), i + 1).cast("double").as(s"f$i")): _*)
      IsolationForest.scores(feats, Seq("vec_id"),
        (0 until 64).map(i => s"f$i"))
        .orderBy(col("score").desc, col("vec_id")).limit(50)
    }),

    // the lossyML experiment itself (file_io.rs:261-517: iForest trained
    // on raw vs PAA-reduced vectors, labels compared): top-20 anomaly
    // overlap between the raw 16-dim forest and the PAA-4 forest — does
    // the lossy tier preserve outlier structure?
    "ml_iforest_lossy_agree" -> ((s, d) => {
      // one seq_no derivation: rr feeds BOTH the PAA and raw feature
      // scoring paths (unmaterialized, the window-over-events ran twice)
      val rr = Readings.of(s, d).localCheckpoint()
      def top(df: org.apache.spark.sql.DataFrame, fc: Seq[String]) =
        IsolationForest.scores(df, Seq("signal_id", "seg"), fc)
          .orderBy(col("score").desc, col("signal_id"), col("seg"))
          .limit(20).select(col("signal_id"), col("seg"))
      top(IsolationForest.paaFeatures(rr), Seq("f0", "f1", "f2", "f3"))
        .join(top(IsolationForest.rawFeatures(rr), (0 until 16).map(i => s"f$i")),
          Seq("signal_id", "seg"))
        .agg(count(lit(1)).cast("long").as("overlap"))
        .select(lit(20L).as("k"), col("overlap"),
          (col("overlap").cast("double") / 20.0).as("agree_frac"))
    })
  )

  /** Shared builder for ml_classifiers and its _check companion: the
    * accuracy summary rows (kind='acc') plus the decision tree's
    * per-test-point predictions (kind='pred'). The decision tree is
    * fitted ONCE: its accuracy row is computed FROM the prediction dump
    * (not by a second independent fit), so the acc==hit-rate invariant
    * holds by construction and the query doesn't pay a redundant full DT
    * training pass.
    */
  private def classifiersDump(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.ml.classification.DecisionTreeClassifier
    import org.apache.spark.ml.functions.array_to_vector
    val e = Tables.embeddings(s, d)
    val feats = e.select(col("vec_id"),
      array_to_vector(col("embedding").cast("array<double>")).as("features"),
      col("label").cast("double").as("label"))
    val train = feats.where(pmod(hash(col("features")), lit(5)) =!= 0)
    val test = feats.where(pmod(hash(col("features")), lit(5)) === 0)
    val dt = new DecisionTreeClassifier().setSeed(42L)
      .fit(train.drop("vec_id"))
    val accs = Classifiers.trainEval(train.drop("vec_id"),
        test.drop("vec_id"), exclude = Set("decision_tree"))
      .select(lit("acc").as("kind"), col("model"), col("accuracy"),
        lit(null).cast("long").as("vec_id"),
        lit(null).cast("double").as("prediction"),
        lit(null).cast("double").as("label"))
    val scored = dt.transform(test)
    val dtAcc = scored
      .agg(avg((col("prediction") === col("label")).cast("double"))
        .as("accuracy"))
      .select(lit("acc").as("kind"), lit("decision_tree").as("model"),
        col("accuracy"), lit(null).cast("long").as("vec_id"),
        lit(null).cast("double").as("prediction"),
        lit(null).cast("double").as("label"))
    val preds = scored
      .select(lit("pred").as("kind"), lit("decision_tree").as("model"),
        lit(null).cast("double").as("accuracy"),
        col("vec_id"), col("prediction"), col("label"))
    accs.unionByName(dtAcc).unionByName(preds)
  }

  // the outlier fixture's mixer is plain 63-bit-safe integer arithmetic
  // (Fixtures.mix32), so DuckDB can regenerate the whole fixture and check
  // count, outlier count, max value and the full-column hash checksum
  val oracles: Map[String, String] = Map(
    // expected invariant outcomes for the engine-specific fits: zero
    // violations; supports and the majority-share bound recomputed from
    // the base table where the base table defines them
    "ml_classifiers_check" ->
      """SELECT 'accuracies_in_unit_interval' AS invariant,
        |  CAST(0 AS BIGINT) AS violations, CAST(2 AS BIGINT) AS support
        |UNION ALL
        |SELECT 'dt_accuracy_matches_prediction_dump',
        |  CAST(0 AS BIGINT), CAST(1 AS BIGINT)
        |UNION ALL
        |SELECT 'tree_and_forest_rows_present',
        |  CAST(0 AS BIGINT), CAST(2 AS BIGINT)
        |UNION ALL
        |SELECT 'train_test_partition_covers_embeddings',
        |  CAST(0 AS BIGINT),
        |  (SELECT CAST(count(*) AS BIGINT) FROM embeddings)""".stripMargin,

    "ml_kmeans_purity_check" ->
      """SELECT 'purity_at_least_majority_label_share' AS invariant,
        |  CAST(0 AS BIGINT) AS violations,
        |  (SELECT CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE)
        |   FROM (SELECT count(*) AS c FROM embeddings GROUP BY label))
        |    AS bound
        |UNION ALL
        |SELECT 'purity_at_most_one', CAST(0 AS BIGINT), 1.0""".stripMargin,
    // constant-true row: the gate passes exactly when every metric clears
    // its floor, which the fixed-seed fits do at every tested SF
    "ml_quality_gate" ->
      "SELECT true AS dt_ok, true AS rf_ok, true AS purity_ok",

    "ml_cr_predict" ->
      CrPredictor.estimateSql(Readings.OracleCte, sampleFraction = 0.5),

    // the policy walk re-runs in DuckDB as a recursive CTE carrying the
    // per-arm Q vector; the readings prefix is upgraded to WITH RECURSIVE
    "ml_bandit_replay" ->
      Bandit.egreedyReplaySql(
        Readings.OracleCte.replaceFirst("WITH", "WITH RECURSIVE")),

    "ml_bandit_recode" ->
      Bandit.recodeReplaySql(
        Readings.OracleCte.replaceFirst("WITH", "WITH RECURSIVE")),

    "ml_bandit_recode_band" ->
      Bandit.recodeBandReplaySql(
        Readings.OracleCte.replaceFirst("WITH", "WITH RECURSIVE")),

    "ml_outlier_fixture" ->
      s"""WITH ids AS (SELECT range AS id FROM range(0, 10000)),
         |h AS (
         |  SELECT id, ${Fixtures.mix32Sql("id", 1L)} % 1000000 AS hu,
         |         ${Fixtures.mix32Sql("id", 2L)} % 1000000 AS ho
         |  FROM ids
         |), v AS (
         |  SELECT hu, hu / 1000000.0 AS u, ho / 1000000.0 < 0.1 AS is_out FROM h
         |)
         |SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(is_out::BIGINT) AS BIGINT) AS n_outliers,
         |  max(CASE WHEN is_out THEN 1.0 + u * 1000.0 ELSE 0.0 + u * 1.0 END) AS vmax,
         |  CAST(sum(hu) AS BIGINT) AS sum_u
         |FROM v""".stripMargin,

    // full DBSCAN recomputation: all-pairs eps-neighbors (fine at fixture
    // scale), core = |N_eps| >= 4 self included, clusters = recursive
    // closure over core-core edges labeled by min reachable core id,
    // border = min adjacent core cluster, noise = -1
    "ml_dbscan" ->
      s"""WITH RECURSIVE p AS (
         |  ${Dbscan.fixtureSql().replace("\n", "\n  ")}
         |), nb AS (
         |  SELECT a.id AS a, b.id AS b
         |  FROM p a JOIN p b ON a.id <> b.id
         |   AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 25.0
         |), cores AS (
         |  SELECT a AS id FROM nb GROUP BY a HAVING count(*) + 1 >= 4
         |), ce AS (
         |  SELECT nb.a AS src, nb.b AS dst FROM nb
         |  JOIN cores ca ON ca.id = nb.a
         |  JOIN cores cb ON cb.id = nb.b
         |), reach AS (
         |  SELECT id, id AS r FROM cores
         |  UNION
         |  SELECT ce.src AS id, reach.r FROM ce JOIN reach ON reach.id = ce.dst
         |), cl AS (
         |  SELECT id, min(r) AS cluster FROM reach GROUP BY id
         |), border AS (
         |  SELECT nb.a AS id, min(cl.cluster) AS cluster
         |  FROM nb JOIN cl ON cl.id = nb.b
         |  WHERE nb.a NOT IN (SELECT id FROM cores)
         |  GROUP BY nb.a
         |)
         |SELECT p.id,
         |  CAST(coalesce(cl.cluster, border.cluster, -1) AS BIGINT) AS cluster,
         |  (cl.id IS NOT NULL) AS is_core
         |FROM p LEFT JOIN cl USING (id) LEFT JOIN border USING (id)""".stripMargin,

    // the forest regrown level-by-level in SQL (IsolationForest.oracleCteSql
    // mirrors every IEEE step of the builder)
    "ml_iforest" ->
      s"""${Readings.OracleCte}, ${IsolationForest.paaFeaturesCteSql},
         |${IsolationForest.oracleCteSql(Seq("signal_id", "seg"), Seq("f0", "f1", "f2", "f3"))}
         |SELECT signal_id, seg, avg_depth, avg_path, score FROM ifout""".stripMargin,

    "ml_iforest_psi" ->
      s"""${Readings.OracleCte}, ${IsolationForest.paaFeaturesCteSql},
         |${IsolationForest.oracleCteSql(Seq("signal_id", "seg"), Seq("f0", "f1", "f2", "f3"), psi = 64)}
         |SELECT signal_id, seg, avg_depth, avg_path, score FROM ifout""".stripMargin,

    "ml_iforest_top" ->
      s"""${Readings.OracleCte}, ${IsolationForest.paaFeaturesCteSql},
         |${IsolationForest.oracleCteSql(Seq("signal_id", "seg"), Seq("f0", "f1", "f2", "f3"))}
         |SELECT signal_id, seg, avg_depth, avg_path, score FROM ifout
         |ORDER BY score DESC, signal_id, seg LIMIT 20""".stripMargin,

    "ml_iforest_serve" ->
      s"""${Readings.OracleCte}, ${IsolationForest.paaFeaturesCteSql},
         |${IsolationForest.oracleCteSql(Seq("signal_id", "seg"),
             Seq("f0", "f1", "f2", "f3"), fitFilterSql = "signal_id % 2 = 0")}
         |SELECT signal_id, seg, avg_depth, avg_path, score FROM ifout""".stripMargin,

    // identical by construction to ml_iforest_serve — the save/load hop
    // must not change a single bit
    "ml_iforest_store" ->
      s"""${Readings.OracleCte}, ${IsolationForest.paaFeaturesCteSql},
         |${IsolationForest.oracleCteSql(Seq("signal_id", "seg"),
             Seq("f0", "f1", "f2", "f3"), fitFilterSql = "signal_id % 2 = 0")}
         |SELECT signal_id, seg, avg_depth, avg_path, score FROM ifout""".stripMargin,

    "emb_iforest" ->
      s"""WITH pts0 AS (
         |  SELECT vec_id,
         |    ${(0 until 64).map(i => s"CAST(embedding[${i + 1}] AS DOUBLE) AS f$i").mkString(",\n    ")}
         |  FROM embeddings
         |),
         |${IsolationForest.oracleCteSql(Seq("vec_id"), (0 until 64).map(i => s"f$i"))}
         |SELECT vec_id, avg_depth, avg_path, score FROM ifout
         |ORDER BY score DESC, vec_id LIMIT 50""".stripMargin,

    // both forests regrown (PAA-4 default-prefixed, raw 16-dim r_-prefixed),
    // then the same deterministic top-20 intersection
    "ml_iforest_lossy_agree" ->
      s"""${Readings.OracleCte}, ${IsolationForest.paaFeaturesCteSql},
         |${IsolationForest.oracleCteSql(Seq("signal_id", "seg"), Seq("f0", "f1", "f2", "f3"))},
         |${IsolationForest.rawFeaturesCteSql("r_")},
         |${IsolationForest.oracleCteSql(Seq("signal_id", "seg"), (0 until 16).map(i => s"f$i"), prefix = "r_")},
         |ptop AS (
         |  SELECT signal_id, seg FROM ifout
         |  ORDER BY score DESC, signal_id, seg LIMIT 20
         |), rtop AS (
         |  SELECT signal_id, seg FROM r_ifout
         |  ORDER BY score DESC, signal_id, seg LIMIT 20
         |), ov AS (
         |  SELECT CAST(count(*) AS BIGINT) AS overlap
         |  FROM ptop JOIN rtop USING (signal_id, seg)
         |)
         |SELECT CAST(20 AS BIGINT) AS k, overlap,
         |  CAST(overlap AS DOUBLE) / 20.0 AS agree_frac FROM ov""".stripMargin
  )
}
