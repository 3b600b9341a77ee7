package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Similarity

/** Vector similarity on hand-checkable vectors + structural LSH checks. */
class SimilaritySpec extends AnyFunSuite with SparkTest {

  private lazy val (probes, corpus) = {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f)),
      (2L, Array(1.0f, 1.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f)),
      (4L, Array(0.9f, 0.1f, 0.0f)))
    (vecs.take(1).toDF("probe_id", "pe"),
     vecs.toDF("cand_id", "ce"))
  }

  test("bruteTopK ranks by cosine with deterministic ties") {
    val rows = Similarity.bruteTopK(probes, corpus, 4)
      .orderBy("rnk").collect()
      .map(r => (r.getAs[Long]("cand_id"), r.getAs[Double]("sim")))
    // cos(e1, [0.9,0.1]) = 0.993884..., cos(e1, e1+e2)=0.707107, cos(e1,e2)=0, cos(e1,-e1)=-1
    assert(rows.map(_._1).toSeq == Seq(4L, 2L, 1L, 3L))
    assertNear(rows(0)._2, 0.993884, 1e-5)
    assertNear(rows(1)._2, 0.707107, 1e-6)
  }

  private def assertNear(a: Double, b: Double, tol: Double): Unit =
    assert(math.abs(a - b) <= tol, s"$a vs $b")

  test("lshTopK results are a consistent subset of brute-force cosines") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val p = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
    val c = e.select(col("vec_id").as("cand_id"), col("embedding").as("ce"))
    val brute = Similarity.bruteTopK(p, c, 1000).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("sim")).toMap
    val lsh = Similarity.lshTopK(p, c, 10).collect()
    assert(lsh.nonEmpty)
    lsh.foreach { r =>
      val key = (r.getAs[Long]("probe_id"), r.getAs[Long]("cand_id"))
      assert(brute.contains(key), s"pair $key not in brute set")
      assertNear(r.getAs[Double]("sim"), brute(key), 0.0)
    }
    // ranks are dense per probe starting at 1
    lsh.groupBy(_.getAs[Long]("probe_id")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("rnk")).sorted.toSeq ==
        (1L to rs.length).toSeq)
    }
  }

  test("knn1 predicts the nearest neighbor's label deterministically") {
    import spark.implicits._
    val test = Seq((0L, Array(0.0f, 0.0f), 9L)).toDF("test_id", "te", "true_label")
    val train = Seq(
      (10L, Array(1.0f, 0.0f), 1L),
      (11L, Array(0.5f, 0.0f), 2L),
      (12L, Array(3.0f, 0.0f), 3L)).toDF("train_id", "tre", "train_label")
    val out = Similarity.knn1(test, train).collect()
    assert(out.length == 1 && out(0).getAs[Long]("pred_label") == 2L)
  }

  test("building knn1 and cosinePairsBrute runs no job; a side already as wide as the cluster stays") {
    import spark.implicits._
    val n = spark.sparkContext.defaultParallelism
    val vecs = (0 until 64).map(i => (i.toLong, Array(i.toFloat, (i % 7).toFloat), (i % 3).toLong))
      .toDF("id", "v", "label")
    def widened(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.exists {
        case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression =>
          r.optNumPartitions.contains(n)
        case _ => false
      }
    // an exchange under the quadratic side: adaptive execution settles its
    // width only when the plan runs, so the side is widened without asking
    val grouped = vecs.groupBy(col("id"))
      .agg(first(col("v")).as("v"), first(col("label")).as("label"))
    val test = vecs.filter(col("id") < 4)
      .select(col("id").as("test_id"), col("v").as("te"), col("label").as("true_label"))
    def train(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id").as("train_id"), col("v").as("tre"), col("label").as("train_label"))
    assert(counters(Similarity.knn1(test, train(grouped)))("jobs") == 0L)
    assert(counters(Similarity.cosinePairsBrute(grouped, "id", "v", 0.9))("jobs") == 0L)
    assert(widened(Similarity.knn1(test, train(grouped))))
    // scans: one split is widened, n or more splits are left as they are
    val dir = java.nio.file.Files.createTempDirectory("graft-widen").toString
    vecs.coalesce(1).write.parquet(s"$dir/one")
    vecs.repartition(2 * n).write.parquet(s"$dir/many")
    val (one, many) = (spark.read.parquet(s"$dir/one"), spark.read.parquet(s"$dir/many"))
    assert(many.rdd.getNumPartitions >= n)
    assert(counters(Similarity.cosinePairsBrute(many, "id", "v", 0.9))("jobs") == 0L)
    assert(widened(Similarity.cosinePairsBrute(one, "id", "v", 0.9)))
    assert(widened(Similarity.knn1(test, train(one))))
    assert(!widened(Similarity.cosinePairsBrute(many, "id", "v", 0.9)))
    assert(!widened(Similarity.knn1(test, train(many))))
  }
}
