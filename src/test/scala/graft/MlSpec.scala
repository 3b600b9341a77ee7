package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ml.{Classifiers, CrPredictor, Fixtures}
import graft.operators.{Materialize, Readings}

/** M3/M4/M5 — quality-range assertions (reference-style: metrics, not
  * identical labels, SURVEY §7.4).
  */
class MlSpec extends AnyFunSuite with SparkTest {

  // separable 3-class gaussian blobs -> classifiers must learn them
  private lazy val blobs = {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val rows = for {
      label <- 0 until 3
      _ <- 0 until 200
    } yield {
      val cx = label * 10.0
      (Array(cx + rnd.nextGaussian(), cx + rnd.nextGaussian()), label.toLong)
    }
    Classifiers.featuresFrame(rows.toDF("vec", "label"), "vec", "label")
  }

  test("classifier suite reaches high accuracy on separable blobs") {
    val train = blobs.sample(withReplacement = false, 0.8, 1L)
    val accs = Classifiers.trainEval(blobs.except(train).union(train).limit(600), blobs)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(accs.keySet.intersect(Set("decision_tree", "random_forest")).size == 2)
    accs.foreach { case (m, a) => assert(a > 0.9, s"$m accuracy $a") }
  }

  test("kmeans purity on separable blobs is near 1") {
    val purity = Classifiers.kmeansPurity(blobs, k = 3)
      .collect()(0).getDouble(2)
    assert(purity > 0.9, s"purity $purity")
  }

  private val sf = "/root/testdata/sf0.001"

  test("a companion row's work is its own, whether or not its primary ran") {
    def run(q: String) = counters(Materialize.scoped {
      SparkEntry.queries(q)(spark, sf).count(); ()
    }).filter { case (k, _) => k == "jobs" || k == "tasks" }
    val alone = run("ml_kmeans_purity_check")
    run("ml_kmeans_purity")
    assert(run("ml_kmeans_purity_check") == alone)
  }

  test("emb_kmeans and the purity rows fit the same embeddings k-means") {
    import org.apache.spark.ml.functions.array_to_vector
    val e = graft.Tables.embeddings(spark, sf)
    val embFeatures = e.select(col("vec_id"), col("label"),
      array_to_vector(col("embedding").cast("array<double>")).as("features"))
    val purityFeatures = Classifiers.featuresFrame(e, "embedding", "label")
    val centres = Seq(embFeatures, purityFeatures)
      .map(f => Classifiers.kmeans(f).clusterCenters.map(_.toArray.toSeq).toSeq)
    assert(centres(0).size == 10)
    assert(centres(0) == centres(1))
  }

  test("outlier fixture hits the requested ratio deterministically") {
    val f = Fixtures.outlierColumn(spark, 20000L, 0.1)
    val n = f.count()
    val out = f.filter(col("is_outlier")).count()
    assert(n == 20000L)
    assert(math.abs(out.toDouble / n - 0.1) < 0.01, s"ratio ${out.toDouble / n}")
    // deterministic across runs
    val again = Fixtures.outlierColumn(spark, 20000L, 0.1)
      .agg(sum(col("value"))).collect()(0).getDouble(0)
    val first = f.agg(sum(col("value"))).collect()(0).getDouble(0)
    assert(again == first)
    // candidate sets: selectivity and sortedness
    val ids = Fixtures.candidateIds(spark, 20000L, 0.05)
    val c = ids.count().toDouble / 20000.0
    assert(math.abs(c - 0.05) < 0.01, s"selectivity $c")
  }

  test("CR predictor orders codecs sensibly and respects the target guard") {
    val r = Readings.of(spark, sf)
    val est = CrPredictor.estimate(r, 0.5, Readings.Scale)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(est("uncompressed") == 1.0)
    assert(est("dict") < 1.0 && est("delta_bitpack") < 1.0)
    assert(est("paa_4") == 0.25 && est("rrd_4") == 0.25)
    val rec = CrPredictor.recommend(r, targetCr = 0.3, scale = Readings.Scale)
      .collect().map(x => x.getString(0) -> x.getBoolean(2)).toMap
    assert(rec("paa_4") && rec("rrd_4") && !rec("uncompressed"))
  }

  // synthetic readings where the dict arm's reward (64/2 = 32) dominates:
  // value_q cycles 0..3 (4 distinct per 16-row segment), deltas in {1,3}
  private lazy val banditReadings = {
    import spark.implicits._
    val rows = for (sid <- 0L until 50L; seq <- 1L to 64L)
      yield (sid, seq, seq % 4)
    rows.toDF("signal_id", "seq_no", "value_q")
  }

  test("bandit replay explores at ~eps and converges on the best arm") {
    val out = graft.ml.Bandit.egreedyReplay(banditReadings).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(out.length == 200) // 50 signals x 4 segments
    val explored = out.count(_._3)
    assert(explored >= 10 && explored <= 30,
      s"exploration rate ${explored / 200.0} far from eps=0.1")
    // after burn-in, every EXPLOIT step must pick the dominant-reward arm
    val exploit = out.filter(s => !s._3 && s._1 > 20)
    assert(exploit.nonEmpty)
    assert(exploit.forall(_._2 == "dict"),
      s"exploit chose ${exploit.filter(_._2 != "dict").take(3).mkString(",")}")
    // nonstationary Q stays inside the observed reward envelope
    val qs = graft.ml.Bandit.egreedyReplay(banditReadings)
      .filter(col("codec") === "dict").agg(max(col("q_after"))).collect()(0).getDouble(0)
    assert(qs <= 32.0 + 1e-9, s"dict Q $qs exceeds its max reward")
  }

  test("bandit replay is deterministic across runs") {
    val a = graft.ml.Bandit.egreedyReplay(banditReadings).collect().toSeq
    val b = graft.ml.Bandit.egreedyReplay(banditReadings).collect().toSeq
    assert(a == b)
  }

  test("recoding bandit rewards fidelity: smooth series converge on paa_4, noisy on keep") {
    import spark.implicits._
    // 4-chunk-aligned square wave, amplitude 10: paa_4 error-free (7.5),
    // every other arm pays a wide error margin (pla fits the step badly)
    val smooth = (for (sid <- 0L until 100L; seq <- 1L to 64L)
      yield (sid, seq, (seq - 1) / 4 % 2 * 1000, ((seq - 1) / 4 % 2 * 10).toDouble))
      .toDF("signal_id", "seq_no", "value_q", "value")
    val s = graft.ml.Bandit.recodeReplay(smooth).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).sortBy(_._1)
    // burn-in: the best arm must first be SAMPLED by an exploration step
    // (hash-gated, ~1 in 50 steps hits a given arm), so judge the tail
    // burn-in length is exploration luck (the best arm must first be
    // SAMPLED, ~1 in 70 steps with 7 arms), so judge the trailing
    // exploit window rather than a fixed step cutoff
    val sExploit = s.filter(!_._3).takeRight(15)
    assert(sExploit.nonEmpty && sExploit.forall(_._2 == "paa_4"),
      s"smooth exploit: ${sExploit.filter(_._2 != "paa_4").take(3).mkString(",")}")
    // noisy: +-2000 alternation -> every aggregating arm's error blows
    // past the clamp (reward < 0) and the bandit retreats to the minimal
    // bit-drop (tiny guaranteed gain, bounded error): noisy data is NOT
    // aggressively recoded
    val noisy = (for (sid <- 0L until 100L; seq <- 1L to 64L)
      yield (sid, seq, (seq % 2) * 200000, (seq % 2) * 2000.0))
      .toDF("signal_id", "seq_no", "value_q", "value")
    val n = graft.ml.Bandit.recodeReplay(noisy).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).sortBy(_._1)
    val nExploit = n.filter(!_._3).takeRight(15)
    assert(nExploit.nonEmpty && nExploit.forall(_._2 == "drop3bits"),
      s"noisy exploit: ${nExploit.filter(_._2 != "drop3bits").take(3).mkString(",")}")
  }

  test("banded recode replay runs one independent walk per CR band") {
    import spark.implicits._
    // interleave low-cardinality (nd=2 -> band 0) and high-cardinality
    // (nd=16 -> band 2) signals: the bands must walk independently
    val mixed = (for (sid <- 0L until 200L; seq <- 1L to 64L) yield {
      if (sid % 2 == 0) (sid, seq, (seq - 1) / 4 % 2 * 10000, ((seq - 1) / 4 % 2 * 100).toDouble)
      else (sid, seq, seq * 10001, seq * 100.01)
    }).toDF("signal_id", "seq_no", "value_q", "value")
    val out = graft.ml.Bandit.recodeBandReplay(mixed).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getBoolean(3)))
    val bands = out.map(_._1).distinct.sorted
    assert(bands.sameElements(Array(0L, 2L)), s"bands ${bands.mkString(",")}")
    // within each band, steps are contiguous from 1
    for (b <- bands) {
      val steps = out.filter(_._1 == b).map(_._2).sorted
      assert(steps.head == 1L && steps.last == steps.length.toLong)
    }
    // and each band's tail exploit converges on its own best arm: band 0's
    // square wave is constant inside every 4-chunk (error-free PAA x4,
    // reward 7.5, and the step defeats the linear fit); band 2's ramp is
    // exactly linear, so the PLA arm is error-free there (reward 7.5)
    // while every aggregating arm pays the slope
    val tail0 = out.filter(x => x._1 == 0L && !x._4).sortBy(_._2)
      .takeRight(15).map(_._3).distinct
    val tail2 = out.filter(x => x._1 == 2L && !x._4).sortBy(_._2)
      .takeRight(15).map(_._3).distinct
    assert(tail0.sameElements(Array("paa_4")), s"band0 tail: ${tail0.mkString(",")}")
    assert(tail2.sameElements(Array("pla_8")), s"band2 tail: ${tail2.mkString(",")}")
  }
}
