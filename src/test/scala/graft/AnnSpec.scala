package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.AnnQueries

/** Quality gates for the approximate similarity tier: the LSH path must
  * stay quantitatively tied to the exact baseline (the reference tracks
  * query error the same way, buffer_pool.rs:940-1101). CORRECTNESS proves
  * the recall VALUE is computed right; this spec enforces the FLOOR.
  */
class AnnSpec extends AnyFunSuite with SparkTest {

  private val sfDirs =
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")
      .filter(d => new java.io.File(d).isDirectory)

  test("ann_lsh recall@10 vs ann_brute meets the 0.9 floor") {
    assume(sfDirs.nonEmpty, "no testdata present")
    for (d <- sfDirs) {
      val row = AnnQueries.queries("ann_recall")(spark, d).collect()(0)
      val recall = row.getAs[Double]("recall")
      assert(recall >= 0.9, s"multi-probe LSH recall $recall < 0.9 at $d")
    }
  }

  test("ann_ivf recall@10 vs ann_brute meets the 0.85 floor") {
    assume(sfDirs.nonEmpty, "no testdata present")
    for (d <- sfDirs) {
      val row = AnnQueries.queries("ann_ivf_recall")(spark, d).collect()(0)
      val recall = row.getAs[Double]("recall")
      assert(recall >= 0.85, s"IVF recall $recall < 0.85 at $d")
    }
  }

  test("quantized-domain ranking vs float baseline meets the 0.85 floor") {
    assume(sfDirs.nonEmpty, "no testdata present")
    for (d <- sfDirs) {
      val row = AnnQueries.queries("ann_quant_recall")(spark, d).collect()(0)
      val recall = row.getAs[Double]("recall")
      assert(recall >= 0.85, s"quantized recall $recall < 0.85 at $d")
    }
  }

  test("ann_pq recall@10 vs exact L2 meets the 0.2 floor and codes round-trip") {
    // PQ with a 16-centroid sampled codebook on ISOTROPIC random vectors is
    // the structure-free worst case (quantization error ~ the full vector
    // variance): measured recall@10 is ~0.28 at sf0.01. The floor documents
    // that reality — on clustered real corpora trained codebooks push PQ
    // recall toward IVF levels; here PQ is the memory-tier demonstrator
    // (8 bytes vs 256 bytes per vector).
    assume(sfDirs.nonEmpty, "no testdata present")
    for (d <- sfDirs) {
      val row = AnnQueries.queries("ann_pq_recall")(spark, d).collect()(0)
      val recall = row.getAs[Double]("recall")
      assert(recall >= 0.2, s"PQ recall $recall < 0.2 at $d")
    }
  }

  test("JL rerank recall@10 meets the 0.35 floor and beats a random shortlist") {
    // 64 -> 32-dim JL projection on ISOTROPIC vectors is the worst case:
    // true top-10 cosine gaps (~1e-3) are far below the JL distortion, so
    // reduced-space top-10 alone is near-random (measured 0.06-0.08). The
    // meaningful number is the 100-wide shortlist + exact rerank: measured
    // 0.42 (sf0.001) / 0.51 (sf0.01) vs a random 100-of-corpus shortlist's
    // expected 0.2 / 0.02 — the projection concentrates the true
    // neighbors ~25x at sf0.01. On clustered corpora (near-dup detection,
    // where margins are wide) the same r preserves top-k nearly exactly.
    assume(sfDirs.nonEmpty, "no testdata present")
    for (d <- sfDirs) {
      val row = AnnQueries.queries("ann_rp_rerank_recall")(spark, d).collect()(0)
      val recall = row.getAs[Double]("recall")
      assert(recall >= 0.35, s"JL rerank recall $recall < 0.35 at $d")
      // lift over a random 100-of-n shortlist (expected recall = 100/n):
      // demand 2x at sf0.001 (where 100 is already 20% of the corpus, so
      // large lifts are arithmetically impossible) — the sf0.01 floor of
      // 0.35 vs random 0.02 is the real 17x+ concentration evidence
      val n = spark.read.parquet(s"$d/embeddings.parquet").count()
      val randomShortlist = 100.0 / n.toDouble
      assert(recall >= 2 * randomShortlist,
        s"JL shortlist no better than random at $d: $recall vs $randomShortlist")
    }
  }

  test("RP-IVF recall@10 meets the 0.3 floor") {
    // reduced-space IVF composes the two prunes: 4-of-16 reduced cells
    // cut WHICH vectors are scanned (~25% of corpus), RP cuts WHAT is
    // scanned per vector (r/d); measured 0.43 (sf0.001) / 0.39 (sf0.01)
    // vs rerank-without-IVF's 0.42/0.51 — the cell prune costs a few
    // shortlist hits on the isotropic worst case, as expected
    assume(sfDirs.nonEmpty, "no testdata present")
    for (d <- sfDirs) {
      val row = AnnQueries.queries("ann_rp_ivf_recall")(spark, d).collect()(0)
      val recall = row.getAs[Double]("recall")
      assert(recall >= 0.3, s"RP-IVF recall $recall < 0.3 at $d")
    }
  }

  test("JL rerank with a corpus-wide shortlist equals the exact brute top-k") {
    // exactness property: when the shortlist covers the whole corpus the
    // rerank IS the brute-force ranking (same rounding, same tiebreak), so
    // the only approximation in the operator is the shortlist cut itself
    assume(sfDirs.nonEmpty, "no testdata present")
    val d = sfDirs.head
    val e = spark.read.parquet(s"$d/embeddings.parquet")
    import graft.operators.Similarity
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
    val corpus = e.select(col("vec_id").as("cand_id"), col("embedding").as("ce"))
    val n = corpus.count().toInt
    val full = Similarity.rpRerankTopK(probes, corpus, 10, n, 32, 64)
    val brute = Similarity.bruteTopK(probes, corpus, 10)
    assert(full.exceptAll(brute).isEmpty && brute.exceptAll(full).isEmpty,
      s"corpus-wide rerank differs from brute at $d")
  }

  test("adaptive IVF at 25% target fraction matches fixed nProbe=4 recall") {
    // on near-uniform cells, covering 25% of the corpus adaptively must
    // not lose recall vs the fixed 4-of-16-cell probe (same I/O budget)
    assume(sfDirs.nonEmpty, "no testdata present")
    for (d <- sfDirs) {
      val brute = AnnQueries.queries("ann_brute")(spark, d)
        .select(col("probe_id"), col("cand_id"))
      val fixed = AnnQueries.queries("ann_ivf")(spark, d)
        .select(col("probe_id"), col("cand_id"))
      val adaptive = AnnQueries.queries("ann_ivf_adaptive")(spark, d)
        .select(col("probe_id"), col("cand_id"))
      def recall(approx: org.apache.spark.sql.DataFrame): Double = {
        val hit = brute.join(approx, Seq("probe_id", "cand_id")).count()
        hit.toDouble / brute.count()
      }
      val (rf, ra) = (recall(fixed), recall(adaptive))
      assert(ra >= rf - 0.05, s"adaptive recall $ra << fixed $rf at $d")
    }
  }

  test("ann_ivfpq recall@10 vs exact L2 meets the 0.3 floor") {
    // IVF-PQ on the same isotropic worst case: coarse-cell pruning plus
    // residual coding lifts recall over flat PQ (~0.41 vs ~0.28 at
    // sf0.01) while carrying 1/32 of the scan payload — the expected
    // IVFADC ordering. Floor at 0.3 documents the structure-free bound;
    // trained codebooks on clustered corpora push this far higher.
    assume(sfDirs.nonEmpty, "no testdata present")
    for (d <- sfDirs) {
      val row = AnnQueries.queries("ann_ivfpq_recall")(spark, d).collect()(0)
      val recall = row.getAs[Double]("recall")
      assert(recall >= 0.3, s"IVF-PQ recall $recall < 0.3 at $d")
    }
  }

  test("dedup_embedding pair capture vs brute force meets the 0.8 floor") {
    assume(sfDirs.nonEmpty, "no testdata present")
    for (d <- sfDirs) {
      val row = AnnQueries.queries("dedup_emb_recall")(spark, d).collect()(0)
      val recall = row.getAs[Double]("recall")
      assert(row.getAs[Long]("n_brute") > 0, s"degenerate fixture at $d")
      assert(recall >= 0.8, s"bucketed pair recall $recall < 0.8 at $d")
    }
  }
}
