package graft.gsod

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference notebook end-to-end (SURVEY.md §3: ingest → clean →
  * impute → featurize → train → evaluate) as one composable function
  * chain — ~60 uncached jobs in the reference collapse to a handful
  * (SURVEY §4.3.1).
  */
object GsodPipeline {

  final case class Result(
      frame: DataFrame,
      imputeAccounting: Map[String, Impute.Accounting],
      regression: Train.RegMetrics,
      gbtRegression: Train.RegMetrics,
      classification: Train.ClsMetrics,
      lrModel: org.apache.spark.ml.regression.LinearRegressionModel)

  /** Read a GSOD CSV with the explicit schema (no inferSchema double
    * scan — SURVEY §4.3.4). */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").schema(GsodSchema.schema).csv(path)

  /** Clean + impute only (the c5–c21 segment). After the reference's
    * strategy table runs, any numeric column still carrying nulls gets
    * the station-median imputer — the reference defines `MedianImputer`
    * for exactly this but never invokes it (ipynb c17:2-3 commented
    * out); invoking it preserves the post-pipeline zero-null invariant
    * (ipynb c20:out) for inputs whose null pattern the fixed table
    * doesn't cover. */
  def prepare(raw: DataFrame): (DataFrame, Map[String, Impute.Accounting]) = {
    val cleaned = Clean.dropSparseColumns(Clean.sentinelToNull(raw))
    val (imputed, acc) = Impute.applyAll(cleaned)
    val numeric = GsodSchema.numericColumns.filter(imputed.columns.contains)
    val remaining = Clean.missingCountMap(imputed, numeric).filter(_._2 > 0).keys.toSeq.sorted
    val (out, extraAcc) = Impute.applyAll(imputed, remaining.map(Impute.StationMedian(_)))
    (out, acc ++ extraAcc)
  }

  /** Full run on an already-loaded GSOD-shaped frame. `gbtIter` is
    * tunable so tests stay fast; the reference uses 100 boosting
    * rounds (ipynb c38:out). */
  def run(raw: DataFrame, gbtIter: Int = 20): Result = {
    val (imputed, accounting) = prepare(raw)
    val (featurized, _) = Features.featurize(imputed)
    val frame = featurized.persist()
    val (train, test) = Train.split(frame)

    val lr = Train.linearRegression(train)
    val lrMetrics = Train.evaluateRegression(lr.transform(test))

    val gbtR = Train.gbtRegressor(train, maxIter = gbtIter)
    val gbtMetrics = Train.evaluateRegression(gbtR.transform(test))

    val gbtC = Train.gbtClassifier(train, maxIter = gbtIter)
    val clsMetrics = Train.evaluateClassification(gbtC.transform(test))

    Result(frame, accounting, lrMetrics, gbtMetrics, clsMetrics, lr)
  }
}
