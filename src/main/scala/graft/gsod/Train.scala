package graft.gsod

import org.apache.spark.ml.classification.{GBTClassificationModel, GBTClassifier}
import org.apache.spark.ml.evaluation.{MulticlassClassificationEvaluator, RegressionEvaluator}
import org.apache.spark.ml.regression.{GBTRegressionModel, GBTRegressor, LinearRegression, LinearRegressionModel}
import org.apache.spark.mllib.evaluation.{BinaryClassificationMetrics, RegressionMetrics}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Training + evaluation stage (SURVEY.md §2.10 M6–M14).
  *
  * Declared deviations (SURVEY §7.5): XGBoost → mllib GBT (no xgboost
  * jar offline; same label/features contract, same evaluators, so the
  * quality numbers are directly comparable: R² ≈ 0.93 band regression,
  * accuracy ≈ 0.80 band classification); `randomSplit` is seeded
  * (the reference's unseeded split, ipynb c29:2, is nondeterministic).
  * SHAP → `featureImportances` (M16 analogue).
  */
object Train {

  final case class RegMetrics(rmse: Double, mse: Double, mae: Double, r2: Double)
  final case class ClsMetrics(accuracy: Double, areaUnderPR: Double, areaUnderROC: Double)

  /** Seeded 80/20 split (ipynb c29:2 + SURVEY §4.3.5). */
  def split(df: DataFrame, seed: Long = 42L): (DataFrame, DataFrame) = {
    val Array(tr, te) = df.randomSplit(Array(0.8, 0.2), seed)
    (tr, te)
  }

  /** LinearRegression baseline, reference defaults (regParam=0,
    * ipynb c34:2-3). */
  def linearRegression(train: DataFrame, labelCol: String = Features.labelReg): LinearRegressionModel =
    new LinearRegression()
      .setFeaturesCol("features").setLabelCol(labelCol)
      .fit(train)

  /** GBT regressor — the XGBoost substitute (objective squared-error,
    * like reg:squarederror, ipynb c38:2-3). */
  def gbtRegressor(train: DataFrame, labelCol: String = Features.labelReg,
      maxIter: Int = 20, seed: Long = 42L): GBTRegressionModel =
    new GBTRegressor()
      .setFeaturesCol("features").setLabelCol(labelCol)
      .setMaxIter(maxIter).setSeed(seed)
      .fit(train)

  /** GBT classifier — the XGBoost binary:logistic substitute
    * (ipynb c46:2-4). */
  def gbtClassifier(train: DataFrame, labelCol: String = Features.labelCls,
      maxIter: Int = 20, seed: Long = 42L): GBTClassificationModel =
    new GBTClassifier()
      .setFeaturesCol("features").setLabelCol(labelCol)
      .setMaxIter(maxIter).setSeed(seed)
      .fit(train)

  /** RMSE, MSE, MAE and R² from the RDD-API RegressionMetrics bundle
    * (M12, ipynb c36:1-10) — the only evaluator this runs. The
    * reference's RegressionEvaluator surface (M10, ipynb c34:7) is
    * [[rmse]]; both compute the same RMSE. */
  def evaluateRegression(predictions: DataFrame,
      labelCol: String = Features.labelReg): RegMetrics = {
    val rdd = predictions
      .select(col("prediction").cast("double"), col(labelCol).cast("double"))
      .rdd.map(r => (r.getDouble(0), r.getDouble(1)))
    val m = new RegressionMetrics(rdd)
    RegMetrics(m.rootMeanSquaredError, m.meanSquaredError, m.meanAbsoluteError, m.r2)
  }

  /** Accuracy (M11, ipynb c47:1) + PR/ROC areas (M13, ipynb c47:8-13,
    * with the reference's explicit double casts c47:3-4).
    *
    * The (prediction, label) projection is persisted for the duration:
    * the accuracy evaluator and the RDD-API binary metrics are separate
    * jobs, and without the cache each one re-executes the model
    * transform over the test set (2 columns cached, not the feature
    * vectors). */
  def evaluateClassification(predictions: DataFrame,
      labelCol: String = Features.labelCls): ClsMetrics = {
    val p = predictions
      .select(col("prediction").cast("double").as("prediction"),
        col(labelCol).cast("double").as(labelCol))
      .persist()
    try {
      val accuracy = new MulticlassClassificationEvaluator()
        .setLabelCol(labelCol).setPredictionCol("prediction")
        .setMetricName("accuracy")
        .evaluate(p)
      val rdd = p.rdd.map(r => (r.getDouble(0), r.getDouble(1)))
      val m = new BinaryClassificationMetrics(rdd)
      ClsMetrics(accuracy, m.areaUnderPR(), m.areaUnderROC())
    } finally { p.unpersist(false); () }
  }

  /** RegressionEvaluator surface (M10) kept for API parity. */
  def rmse(predictions: DataFrame, labelCol: String): Double =
    new RegressionEvaluator()
      .setLabelCol(labelCol).setPredictionCol("prediction").setMetricName("rmse")
      .evaluate(predictions)
}
