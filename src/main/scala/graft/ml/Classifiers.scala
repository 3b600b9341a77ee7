package graft.ml

import org.apache.spark.ml.classification.{DecisionTreeClassifier, LinearSVC, NaiveBayes, RandomForestClassifier}
import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** M3 — clustering/classification wrappers mirroring the reference's
  * lossyML workloads (lossyML/src/main.rs over the vendored smartcore
  * crate: kmeans, decision tree, random forest, naive bayes, SVC).
  * spark.ml equivalents with fixed seeds; quality is asserted as accuracy
  * ranges (SURVEY §7.4: hyperparameters/initializations differ, so tests
  * check metrics, not identical labels).
  */
object Classifiers {

  /** array<float|double> column + long label -> ml features frame. */
  def featuresFrame(df: DataFrame, vecCol: String, labelCol: String): DataFrame =
    df.select(
      array_to_vector(col(vecCol).cast("array<double>")).as("features"),
      col(labelCol).cast("double").as("label"))

  /** Train the classifier suite on `train`, return (model, accuracy) rows
    * evaluated on `test`. Binary-only models (SVC) are skipped when the
    * label cardinality exceeds 2.
    */
  def trainEval(train: DataFrame, test: DataFrame, seed: Long = 42L,
                exclude: Set[String] = Set.empty): DataFrame = {
    val spark = train.sparkSession
    import spark.implicits._
    val eval = new MulticlassClassificationEvaluator()
      .setLabelCol("label").setPredictionCol("prediction").setMetricName("accuracy")
    val nLabels = train.select(countDistinct(col("label"))).collect()(0).getLong(0)

    val models = (Seq(
      "decision_tree" -> new DecisionTreeClassifier().setSeed(seed),
      "random_forest" -> new RandomForestClassifier().setSeed(seed).setNumTrees(20)) ++
      (if (minFeature(train) >= 0.0) Seq("naive_bayes" -> new NaiveBayes()) else Nil) ++
      (if (nLabels == 2) Seq("linear_svc" -> new LinearSVC().setMaxIter(20)) else Nil))
      .filterNot { case (name, _) => exclude(name) }

    val rows = models.map { case (name, est) =>
      val m = est.fit(train)
      val acc = eval.evaluate(m.transform(test))
      (name, acc)
    }
    rows.toDF("model", "accuracy")
  }

  private def minFeature(df: DataFrame): Double =
    df.select(min(array_min(vector_to_array(col("features")))))
      .collect()(0).getDouble(0)

  /** The one KMeans fit (20 iterations) over a `features` column; the
    * defaults are the embeddings model that `emb_kmeans`, its `_check`
    * and [[kmeansPurity]] all fit.
    */
  def kmeans(data: DataFrame, k: Int = 10, seed: Long = 42L): KMeansModel =
    new KMeans().setK(k).setSeed(seed).setMaxIter(20).fit(data)

  /** KMeans clustering with purity against known labels (the reference's
    * recoding-fidelity style metric: label agreement after lossy steps).
    */
  def kmeansPurity(data: DataFrame, k: Int, seed: Long = 42L): DataFrame = {
    val m = kmeans(data, k, seed)
    val assigned = m.transform(data)
    val spark = data.sparkSession
    import spark.implicits._
    val purity = assigned.groupBy(col("prediction"), col("label"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("prediction")).agg(max(col("n")).as("maj"), sum(col("n")).as("tot"))
      .agg((sum(col("maj")).cast("double") / sum(col("tot")).cast("double")).as("purity"))
      .collect()(0).getDouble(0)
    Seq(("kmeans", k.toLong, purity)).toDF("model", "k", "purity")
  }
}
