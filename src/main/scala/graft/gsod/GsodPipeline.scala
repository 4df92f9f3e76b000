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

  /** Clean + impute only (the c5–c21 segment), as one imputation run.
    * Every numeric column the reference's strategy table does not
    * cover gets the station-median imputer — the reference defines
    * `MedianImputer` for exactly this but never invokes it (ipynb
    * c17:2-3 commented out); invoking it preserves the post-pipeline
    * zero-null invariant (ipynb c20:out) for inputs whose null pattern
    * the fixed table doesn't cover. A covered column the table leaves
    * nulls in is entirely null, so its station median cannot fill it
    * either: its accounting becomes the station-median stall, and the
    * run needs no second count. So the table and the remainder are one
    * plan, persisted once and counted in one aggregate job; only
    * remainder columns that had nulls are accounted. */
  def prepare(raw: DataFrame): (DataFrame, Map[String, Impute.Accounting]) = {
    val cleaned = Clean.dropSparseColumns(Clean.sentinelToNull(raw))
    val table = Impute.referenceStrategies
    val rest = GsodSchema.numericColumns.filter(c => cleaned.columns.contains(c) && !table.exists(_.column == c))
    val (out, acc, nulls) = Impute.run(cleaned, table ++ rest.map(Impute.StationMedian(_)))
    val stalled = table.flatMap(st => acc(st.column).lastOption.collect {
      case (_, n) if n > 0 => st.column -> Seq("station-median" -> n)
    })
    (out, acc.filter { case (c, _) => !rest.contains(c) || nulls(c) > 0 } ++ stalled)
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
