package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{PqDecode, PqEncode, VecDot, VecQuantize, VecSqDist}

/** Vector-similarity operators over an `array<float>` embedding column.
  *
  * Arithmetic is done with the native codegen'd Catalyst expressions
  * `graft_dot`/`graft_sqdist` (functions/VectorExpressions.scala) — a
  * sequential left fold in double precision, bitwise-reproducible across
  * engines (the DuckDB oracle's list_dot_product computes the same fold),
  * inside whole-stage codegen (no UDF, no higher-order-function fallback).
  *
  * Scale shape: probes are a small set -> broadcast; the brute-force path
  * is probes × corpus (embarrassingly parallel, no shuffle of the corpus);
  * the LSH path buckets the corpus by sign-hash so candidate generation is
  * an equi-join on bucket id, never all-pairs.
  */
object Similarity {

  /** Sequential-fold dot product in double — the native codegen'd
    * expression (graft.functions.VecDot).
    */
  def dot(a: Column, b: Column): Column = column(VecDot(expression(a), expression(b)))

  def l2(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity rounded to 6 decimals (ranking key). */
  def cosine(a: Column, b: Column): Column =
    round(dot(a, b) / (l2(a) * l2(b)), 6)

  /** Squared euclidean distance (native sequential fold, VecSqDist). */
  def sqDist(a: Column, b: Column): Column = column(VecSqDist(expression(a), expression(b)))

  /** The ranking tail every top-k path shares: `rnk` (long) = row_number
    * per probe over `order`, ties to the lower candidate id; keep rnk <= k.
    */
  private[graft] def topKPerProbe(scored: DataFrame, order: Column, k: Int): DataFrame =
    scored.withColumn("rnk", row_number().over(
        Window.partitionBy(col("probe_id")).orderBy(order, col("cand_id"))).cast("long"))
      .filter(col("rnk") <= k)

  /** Widen the STREAM side of a compute-heavy nested-loop join to the
    * cluster's default parallelism — measured r16: the bench corpora are
    * one parquet split, so the brute-force distance loops ran
    * near-serially on one core. No-op once the side already arrives at
    * least that wide (at scale the scan is many splits, and an extra
    * corpus shuffle would be pure cost); the explicit REPARTITION_BY_NUM
    * origin keeps AQE from re-coalescing partitions that are tiny by
    * bytes but quadratic by compute. Row values are untouched — every
    * consumer ranks with deterministic tie-breaks, so placement cannot
    * change results.
    *
    * Where it applies (r16, measured BOTH ways): the genuinely quadratic
    * sides — knn1's train side (|test|·|train| pairs) and
    * cosinePairsBrute's full self-join — win 2.7-9x. The k-probe brute
    * baselines (bruteTopK/bruteTopKL2, |probes| ~ 10) were measured and
    * REVERTED: their pair count is linear in the corpus, the distance
    * loop was never the bottleneck, and the added exchange cost those
    * rows ~0.1 s each (ann_brute 0.40 -> 0.53 in the same-window sweep).
    *
    * The width is read off the physical plan ([[arrivingPartitions]]), so
    * building the join runs no job.
    */
  private def widenForCompute(df: DataFrame, key: String): DataFrame = {
    val n = df.sparkSession.sparkContext.defaultParallelism
    if (arrivingPartitions(df).exists(_ >= n)) df else df.repartition(n, col(key))
  }

  /** The partition count `df` arrives in, read off its physical plan
    * without running it. An exchange-free plan's RDD partitions are its
    * scans' file splits, and building that RDD lists files and runs
    * nothing. Under an exchange or a subquery the count is None: adaptive
    * execution settles it only when the plan runs (a small aggregate is
    * coalesced to one partition), and asking `df.rdd` for it runs the
    * shuffle stage.
    */
  private def arrivingPartitions(df: DataFrame): Option[Int] = {
    val plan = df.queryExecution.executedPlan
    val settledAtRun = plan.exists(p => p.isInstanceOf[AdaptiveSparkPlanExec] ||
      p.isInstanceOf[Exchange] || p.subqueries.nonEmpty)
    if (settledAtRun) None else Some(plan.execute().getNumPartitions)
  }

  /** Brute-force cosine top-k: for each probe (small, broadcast), rank the
    * whole corpus. Deterministic tiebreak on candidate id.
    */
  def bruteTopK(probes: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    // norms are computed ONCE per vector before the join (1 fold per pair
    // instead of 3); sqrt(dot(v,v)) and the product order are unchanged,
    // so the doubles are bitwise-identical to the inline form
    val pn = probes.withColumn("pn", l2(col("pe")))
    val cn = corpus.withColumn("cn", l2(col("ce")))
    val joined = cn.join(broadcast(pn), col("probe_id") =!= col("cand_id"))
      .select(col("probe_id"), col("cand_id"),
        round(dot(col("pe"), col("ce")) / (col("pn") * col("cn")), 6).as("sim"))
    topKPerProbe(joined, col("sim").desc, k)
  }

  /** Deterministic sign-LSH hyperplanes from integer LCG samples
    * (plane(i,j) = ((1103515245*(i*dim+j) + 12345) mod 65536) - 32768).
    * Integers are exactly representable as doubles and the formula is
    * overflow-free in 64-bit, so the SQL oracle regenerates the SAME
    * planes — which makes the whole LSH path deterministic and
    * oracle-checkable, unlike seeded-Gaussian planes.
    */
  def lcgPlanes(nPlanes: Int, dim: Int): Seq[Seq[Double]] =
    Seq.tabulate(nPlanes)(i => Seq.tabulate(dim)(j =>
      (((1103515245L * (i * dim + j) + 12345L) % 65536L) - 32768L).toDouble))

  /** Sign-LSH bucket id: bit i = sign of <v, plane_i>. */
  def lshBucket(v: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(dot(v.cast("array<double>"), typedLit(p)) >= 0, lit(1L << i))
        .otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)

  /** XOR masks for multi-probe LSH: every flip of up to `maxFlip` of the
    * `nPlanes` sign bits (0 = the probe's own bucket). Shared by the Spark
    * path and the SQL-oracle generator so the two can never drift.
    */
  def probeMasks(nPlanes: Int, maxFlip: Int): Seq[Long] =
    (0 to maxFlip).flatMap(r =>
      (0 until nPlanes).combinations(r).map(_.foldLeft(0L)((m, b) => m | (1L << b))))

  /** The probe's bucket plus every <=maxFlip-bit flip of it (standard
    * multi-probe LSH: neighbors most likely live in buckets that differ in
    * the few lowest-margin hyperplane signs). The probe radius is the
    * recall/cost dial: on clustered corpora a small radius finds the
    * cluster; on isotropic random vectors (this testdata) candidate
    * fraction ~ recall is information-theoretic, so the registered config
    * trades a wide radius for the asserted 0.9 recall floor.
    */
  def multiProbeBuckets(bucket: Column, nPlanes: Int, maxFlip: Int = 2): Column =
    array(probeMasks(nPlanes, maxFlip).map(m => bucket.bitwiseXOR(lit(m))): _*)

  /** Bucketed approximate top-k: candidates restricted to the probe's
    * multi-probed LSH buckets (equi-join on bucket id — the 100 TB-safe
    * shape: the corpus is hashed once and shuffled by bucket, never
    * all-pairs). Deterministic planes -> exact-match oracle in AnnQueries;
    * recall vs the brute-force baseline is measured by `ann_recall`.
    */
  def lshTopK(probes: DataFrame, corpus: DataFrame, k: Int,
              nPlanes: Int = 6, dim: Int = 64, maxFlip: Int = 2): DataFrame = {
    val planes = lcgPlanes(nPlanes, dim)
    val pb = probes.withColumn("pn", l2(col("pe"))).withColumn("bucket",
        explode(multiProbeBuckets(lshBucket(col("pe"), planes), nPlanes, maxFlip)))
    val cb = corpus.withColumn("cn", l2(col("ce")))
      .withColumn("bucket", lshBucket(col("ce"), planes))
    val joined = cb.join(broadcast(pb), Seq("bucket"))
      .where(col("probe_id") =!= col("cand_id"))
      .select(col("probe_id"), col("cand_id"),
        round(dot(col("pe"), col("ce")) / (col("pn") * col("cn")), 6).as("sim"))
    topKPerProbe(joined, col("sim").desc, k)
  }

  /** Product-quantization approximate top-k (Jégou et al.): the corpus is
    * encoded ONCE into m-byte PQ codes (graft.functions.PqEncode — the
    * memory tier that holds 1e9+ vectors where floats cannot), and probes
    * rank candidates by squared L2 against the code RECONSTRUCTION
    * (PqDecode + the graft_sqdist fold — numerically identical to the
    * classic per-subspace ADC lookup sum, accumulated in the same order,
    * so the DuckDB oracle matches bit-for-bit). Encode is map-only with a
    * broadcast-style codebook reference; no corpus shuffle. Ranking
    * quality vs exact L2 is measured by `ann_pq_recall`.
    */
  def pqTopK(probes: DataFrame, corpus: DataFrame, k: Int,
             codebook: Array[Array[Array[Double]]]): DataFrame = {
    val coded = corpus.withColumn("recon",
      column(PqDecode(
        expression(column(PqEncode(
          expression(col("ce")), codebook))), codebook)))
    val joined = coded.join(broadcast(probes), col("probe_id") =!= col("cand_id"))
      .select(col("probe_id"), col("cand_id"),
        sqDist(col("pe").cast("array<double>"), col("recon")).as("dist"))
    topKPerProbe(joined, col("dist").asc, k)
      .select(col("probe_id"), col("cand_id"), round(col("dist"), 6).as("dist"), col("rnk"))
  }

  /** Brute-force squared-L2 top-k — the exact baseline the PQ tier is
    * measured against (cosine is bruteTopK; PQ's natural domain is L2).
    */
  def bruteTopKL2(probes: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val joined = corpus.join(broadcast(probes), col("probe_id") =!= col("cand_id"))
      .select(col("probe_id"), col("cand_id"),
        sqDist(col("pe").cast("array<double>"), col("ce").cast("array<double>")).as("dist"))
    topKPerProbe(joined, col("dist").asc, k)
      .select(col("probe_id"), col("cand_id"), round(col("dist"), 6).as("dist"), col("rnk"))
  }

  /** IVF approximate top-k (see [[Ivf]]): the corpus is assigned to the
    * index's cells, and each probe searches its `nProbe` nearest cells —
    * raw, projected (then reranked by exact cosine from a `shortlist` per
    * probe) or PQ-coded, as the index describes.
    */
  def ivfTopK(probes: DataFrame, corpus: DataFrame, k: Int, index: Ivf,
              nProbe: Int, shortlist: Int = 0): DataFrame =
    index.serve(index.assign(corpus, "cand_id", "ce"), index.probeCells(probes, nProbe), k,
      Option.when(index.planes.nonEmpty)(Ivf.Rerank(probes, corpus, shortlist)))

  /** Native argmax-cosine cell assignment (graft.functions.VoronoiCell):
    * the highest rounded cosine wins, ties to the lowest cell id —
    * bit-identical to the struct-max column formula the oracles mirror
    * (VoronoiCellSpec keeps it as the reference); see the expression's
    * scaladoc for why that formula was a pushdown-inlining hazard on join
    * keys. Map-only (literal centroids, no join, no shuffle), shared by
    * [[Ivf]] and SemDeDup. Centroids iterate in
    * ascending-id order so equal rounded scores keep the smallest id,
    * exactly the struct-max tiebreak; centroid norms are precomputed
    * with the same sequential fold Catalyst const-folds `l2(lit(c))` to.
    */
  def bestCell(v: Column, centroids: Seq[(Int, Seq[Double])]): Column = {
    val sorted = centroids.sortBy(_._1)
    val cents = sorted.map(_._2.toArray).toArray
    val norms = cents.map { c =>
      var s = 0.0; var i = 0
      while (i < c.length) { s += c(i) * c(i); i += 1 }
      math.sqrt(s)
    }
    column(graft.functions.VoronoiCell(expression(v), cents, norms,
      sorted.map(_._1).toArray))
  }

  /** ADAPTIVE IVF probing: instead of a fixed nProbe, each probe visits
    * its best cells (cosine-ranked) until the CUMULATIVE corpus fraction
    * covered reaches `targetFrac` — probes whose neighborhoods fall in
    * large cells read fewer cells, probes near sparse cells read more,
    * equalizing per-query candidate I/O under skewed cell occupancy (the
    * recall/cost dial Faiss tunes with nprobe, made size-aware). Cell
    * sizes are collected into a |cells|-bounded driver dictionary and
    * embedded in the plan as a literal lookup (|cells| is the codebook
    * size — a deliberate constant, never corpus-sized); the corpus total
    * is one bounded scalar. Same assignment and serve as ivfTopK.
    */
  def ivfTopKAdaptive(probes: DataFrame, corpus: DataFrame, k: Int,
                      centroids: Seq[(Int, Seq[Double])],
                      targetFrac: Double): DataFrame = {
    val index = Ivf(centroids)
    val assigned = index.assign(corpus, "cand_id", "ce")
    // the cell-size histogram is ncells rows — fetch it ONCE as a bounded
    // driver dictionary (like the centroid sample) instead of a
    // broadcast join plus a separate total-count action: one corpus pass
    // serves both the per-cell sizes and their sum. A null-vector row
    // groups under a null cell: it still counts toward the corpus total
    // (as the replaced sum-over-sizes did) but gets no dictionary entry
    // (the replaced left join never matched the null key either).
    val szRows = assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("csz")).collect()
    val csz: Map[Int, Long] = szRows.filterNot(_.isNullAt(0))
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val total = szRows.map(_.getLong(1)).sum
    val pc = probes.select(col("probe_id"), col("pe"),
        explode(array(centroids.map { case (i, c) =>
          struct(lit(i).as("cell"),
            cosine(col("pe").cast("array<double>"), typedLit(c)).as("pcos"),
            lit(csz.getOrElse(i, 0L)).as("csz"))
        }: _*)).as("e"))
      .select(col("probe_id"), col("pe"),
        col("e.cell").as("cell"), col("e.pcos").as("pcos"),
        col("e.csz").as("csz"))
    val wCum = Window.partitionBy(col("probe_id"))
      .orderBy(col("pcos").desc, col("cell"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val chosen = pc
      .withColumn("prev_cum", coalesce(sum(col("csz")).over(wCum), lit(0L)))
      .filter(col("prev_cum") < lit(targetFrac) * lit(total.toDouble))
      .select(col("probe_id"), col("pe"), col("cell"))
    index.serve(assigned, chosen, k)
  }

  /** Embedding-cosine near-duplicate pairs, LSH-bucketed: candidates are
    * pairs whose sign-LSH buckets differ in at most `maxFlip` bits (an
    * equi-join — side A explodes its bucket into the <=maxFlip-flip probe
    * set, side B keeps its raw bucket; a pair at bucket-distance d matches
    * on exactly one mask, so no dedup pass is needed), then exact cosine
    * confirms. Never all-pairs: the corpus shuffles once, keyed by bucket.
    * Recall vs the brute-force ground truth is measured by
    * `dedup_emb_recall` and floored in AnnSpec.
    */
  def cosinePairsLsh(vecs: DataFrame, idCol: String, vecCol: String,
                     threshold: Double, nPlanes: Int = 4, dim: Int = 64,
                     maxFlip: Int = 2): DataFrame = {
    val planes = lcgPlanes(nPlanes, dim)
    // materialized once: the bucketed table feeds both sides of the
    // band self-join — unmaterialized, the corpus scan + nPlanes
    // hyperplane dots per vector executed twice
    val b = Materialize.checkpoint(vecs.select(col(idCol), col(vecCol),
      l2(col(vecCol)).as("nrm"),
      lshBucket(col(vecCol), planes).as("bucket")))
    val a = b.select(col(idCol).as("vec_a"), col(vecCol).as("ea"), col("nrm").as("na"),
        explode(multiProbeBuckets(col("bucket"), nPlanes, maxFlip)).as("bucket"))
    val bb = b.select(col(idCol).as("vec_b"), col(vecCol).as("eb"),
      col("nrm").as("nb"), col("bucket"))
    a.join(bb, Seq("bucket"))
      .where(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 6).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Brute-force cosine pairs >= threshold (the exact ground truth the
    * LSH path is measured against — quadratic, measurement-only).
    *
    * Shape notes (r16, measured): the nested-loop join's STREAM side is
    * repartitioned to the cluster's default parallelism — the vector
    * table is small enough to be ONE input split, which ran the n²/2
    * dot products near-serially (the explicit REPARTITION_BY_NUM count
    * comes from defaultParallelism, scale-adaptive, and that shuffle
    * origin keeps AQE from re-coalescing partitions that are tiny by
    * bytes but quadratic by compute). Both predicates live in the join
    * condition with the cheap ordered-pair guard FIRST: filtering cos
    * after the join let the optimizer push it into the condition AHEAD
    * of `vec_a < vec_b`, so every UNORDERED pair paid the full-dim dot.
    * The surviving pairs (a near-dup fraction) recompute the dot once in
    * the projection — far cheaper than doubling the candidate dots.
    */
  def cosinePairsBrute(vecs: DataFrame, idCol: String, vecCol: String,
                       threshold: Double): DataFrame = {
    val a = widenForCompute(
      vecs.select(col(idCol).as("vec_a"), col(vecCol).as("ea"),
        l2(col(vecCol)).as("na")), "vec_a")
    val bb = vecs.select(col(idCol).as("vec_b"), col(vecCol).as("eb"),
      l2(col(vecCol)).as("nb"))
    a.join(bb, col("vec_a") < col("vec_b") &&
        round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 6)
          >= threshold)
      .select(col("vec_a"), col("vec_b"),
        round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 6).as("cos"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al., "SemDeDup: Data-
    * efficient learning at web-scale through semantic deduplication",
    * 2023): partition the corpus into Voronoi cells against a bounded
    * centroid dictionary (the SAME map-only assignment as IVF — no
    * shuffle, no row amplification), find high-cosine pairs WITHIN each
    * cell only (the join is keyed by cell, so the quadratic term is
    * bounded by cell size — at 100 TB pick k ~ sqrt(n) cells and cells
    * stay executor-sized; never all-pairs), then group pairs into
    * components (the same distributed min-label machinery as text
    * near-dedup) and keep the minimum id per component. Output: every
    * vector with its cell, its semantic-duplicate component, and the
    * keeper flag — deterministic at any parallelism.
    *
    * Cross-cell duplicates are missed by construction — that recall
    * tradeoff is the paper's core bargain, and the cluster count is the
    * knob that trades recall against the quadratic bound.
    */
  def semanticDedup(vecs: DataFrame, idCol: String, vecCol: String,
                    centroids: Seq[(Int, Seq[Double])],
                    threshold: Double): DataFrame = {
    // materialized once: the assignment feeds both sides of the
    // within-cell pair join AND the final keeper join — unmaterialized,
    // the |centroids| Voronoi dots per vector executed 3x
    val assigned = Materialize.checkpoint(vecs.select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("e"))
      .withColumn("cell", bestCell(col("e"), centroids).cast("long"))
      .withColumn("nrm", l2(col("e"))))
    val a = assigned.select(col("vec_id").as("doc_a"), col("e").as("ea"),
      col("nrm").as("na"), col("cell"))
    val b = assigned.select(col("vec_id").as("doc_b"), col("e").as("eb"),
      col("nrm").as("nb"), col("cell"))
    val pairs = a.join(b, Seq("cell")).where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 6).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("doc_a"), col("doc_b"))
    val comp = Dedup.connectedComponentsAuto(pairs)
      .select(col("doc_id").as("vec_id"), col("component"))
    assigned.select(col("vec_id"), col("cell"))
      .join(comp, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("component"), col("vec_id")).as("component"),
        (coalesce(col("component"), col("vec_id")) === col("vec_id")).as("keeper"))
  }

  /** E1/E2 for the vector tier — fixed-point vector quantization:
    * floor(v * scale) held as doubles (components and their dot sums stay
    * far inside the exact-integer double range), so quantized dot/cosine
    * is EXACT integer arithmetic, reproducible bit-for-bit by the SQL
    * oracle. This is the reference's compressed-domain query theme (BUFF
    * fixed-point predicates, SURVEY §2.2) applied to embeddings: rank in
    * the quantized domain without touching the f32 originals.
    */
  def quantizeVec(v: Column, scale: Double): Column =
    column(VecQuantize(expression(v.cast("array<double>")), expression(lit(scale))))

  /** Brute-force top-k ranked entirely in the quantized domain. The sim
    * values differ from float cosine by O(1/scale); `ann_quant_recall`
    * measures the rank agreement vs the exact float baseline.
    */
  def quantTopK(probes: DataFrame, corpus: DataFrame, k: Int, scale: Double): DataFrame = {
    val qp = probes.select(col("probe_id"), quantizeVec(col("pe"), scale).as("qp"))
      .withColumn("pn", l2(col("qp")))
    val qc = corpus.select(col("cand_id"), quantizeVec(col("ce"), scale).as("qc"))
      .withColumn("cn", l2(col("qc")))
    val joined = qc.join(broadcast(qp), col("probe_id") =!= col("cand_id"))
      .select(col("probe_id"), col("cand_id"),
        round(dot(col("qp"), col("qc")) / (col("pn") * col("cn")), 6).as("sim_q"))
    topKPerProbe(joined, col("sim_q").desc, k)
  }

  /** Johnson–Lindenstrauss random projection: reduced[i] = <v, plane_i>
    * over the SAME deterministic integer LCG plane family as sign-LSH
    * (lcgPlanes), so the SQL oracle regenerates the projection exactly —
    * a seeded-Gaussian matrix would not be cross-engine reproducible.
    * JL lemma: r = O(log n / eps²) mean-zero random directions preserve
    * pairwise angles to within eps; the integer planes are mean-zero and
    * independent across coordinates, which is what the bound needs.
    *
    * Scale shape: map-only (no shuffle, no row amplification), vectors
    * shrink d -> r, every downstream dot product costs r instead of d
    * multiply-adds. At 100 TB the projection runs ONCE at ingest and the
    * ANN tier stores/scans only the reduced vectors; the full-resolution
    * column is touched again only by the rerank fetch.
    */
  def rpProject(v: Column, planes: Seq[Seq[Double]]): Column = {
    column(graft.functions.RpProject(expression(v),
      planes.map(_.toArray).toArray))
  }

  /** Brute-force cosine top-k entirely in the reduced space — the
    * shortlist pass of a coarse-to-fine deployment, registered alone so
    * its rank quality is oracle-visible. Only (probe, cand, sim_r) rows
    * reach the ranking shuffle: the d-dim originals never leave the scan.
    */
  def rpTopK(probes: DataFrame, corpus: DataFrame, k: Int,
             rDim: Int, dim: Int): DataFrame = {
    // bruteTopK over the projected frames IS the reduced-space ranking
    // (same norms, join, rounding, tie-break) — the reduced pass is
    // defined by matching the exact baseline's arithmetic, so it
    // delegates rather than re-stating it
    val planes = lcgPlanes(rDim, dim)
    bruteTopK(
      probes.select(col("probe_id"), rpProject(col("pe"), planes).as("pe")),
      corpus.select(col("cand_id"), rpProject(col("ce"), planes).as("ce")),
      k).withColumnRenamed("sim", "sim_r")
  }

  /** Coarse-to-fine ANN: shortlist `shortlist` candidates per probe in
    * the reduced space, then rank ONLY the shortlist by exact full-space
    * cosine. The reduced pass scans r-dim vectors; the full-space fetch
    * is a broadcast semi-join of the tiny (probe, cand) shortlist against
    * the corpus — map-only over the second scan, so the d-dim vectors are
    * read for shortlist·|probes| rows, never shuffled corpus-wide. This
    * is the production shape the ann_rp row alone would misrepresent:
    * recall is set by the shortlist width, arithmetic by r.
    */
  def rpRerankTopK(probes: DataFrame, corpus: DataFrame, k: Int,
                   shortlist: Int, rDim: Int, dim: Int): DataFrame =
    rerankFull(
      rpTopK(probes, corpus, shortlist, rDim, dim)
        .select(col("probe_id"), col("cand_id")),
      probes, corpus, k)

  /** Exact full-space rerank of a (probe_id, cand_id) shortlist: the
    * tiny shortlist broadcasts against the corpus (map-only fetch of the
    * d-dim vectors — shortlist·|probes| rows read, nothing corpus-wide
    * shuffled), then ranks by exact cosine. Shared tail of every
    * coarse-to-fine path.
    */
  private[graft] def rerankFull(shortIds: DataFrame, probes: DataFrame,
                                corpus: DataFrame, k: Int): DataFrame = {
    val fetched = corpus.join(broadcast(shortIds), Seq("cand_id"))
      .join(broadcast(probes.withColumn("pn", l2(col("pe")))), Seq("probe_id"))
      .select(col("probe_id"), col("cand_id"),
        round(dot(col("pe"), col("ce")) / (col("pn") * l2(col("ce"))), 6).as("sim"))
    topKPerProbe(fetched, col("sim").desc, k)
  }

  /** M1 — 1-NN classification: each test vector takes the label of its
    * nearest train vector (squared-euclidean, tiebreak smallest id) —
    * reference knn/mod.rs:310 `classify` semantics on Spark primitives.
    */
  def knn1(test: DataFrame, train: DataFrame): DataFrame = {
    val joined = widenForCompute(train, "train_id")
      .join(broadcast(test), col("test_id") =!= col("train_id"))
      .select(col("test_id"), col("true_label"), col("train_id"), col("train_label"),
        round(sqrt(sqDist(col("te"), col("tre"))), 6).as("dist"))
    val w = Window.partitionBy(col("test_id"))
      .orderBy(col("dist"), col("train_id"))
    joined.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(col("test_id"), col("train_label").as("pred_label"), col("true_label"))
  }
}
