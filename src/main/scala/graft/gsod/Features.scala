package graft.gsod

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.feature.{OneHotEncoder, StandardScaler, StringIndexer, VectorAssembler}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Featurization stage (SURVEY.md §2.6 W1 + §2.10 M1–M5): next-row
  * labels via `lead`, then the reference's ML feature pipeline as ONE
  * `org.apache.spark.ml.Pipeline`. The reference fits six separate
  * indexers eagerly (ipynb c23:2-6); here one multi-column
  * `StringIndexer` counts every categorical column in a single pass, so
  * the whole pipeline is one `fit` with one indexer pass.
  *
  * Reference-faithful details:
  *  - `lead(…, 1)` over `partitionBy(stn).orderBy(date)` — next ROW,
  *    not next calendar day (ipynb c24:2-8; SURVEY §7.4.1);
  *  - label-null rows dropped after the window (ipynb c24:11);
  *  - StringIndexer keeps the reference's default `handleInvalid`
  *    ("error", ipynb c23:2-4): no `__unknown` label, so with
  *    OneHotEncoder's default `dropLast=true` (ipynb c23:5-6) a 0/1
  *    indicator encodes to ONE slot and the design matrix stays full
  *    rank next to the intercept (LR solves by Cholesky). A null
  *    indicator raises Spark's "StringIndexer encountered NULL value",
  *    as in the reference;
  *  - StandardScaler `withMean=false, withStd=true` defaults
  *    (ipynb c26:2-3 — scale-only, no centering);
  *  - final assembly order: categorical vectors FIRST, then the scaled
  *    numeric vector (ipynb c26:6-8; SHAP naming relied on this order).
  */
object Features {

  val labelReg = "next_day_max"
  val labelCls = "next_day_rain"

  /** Add next-row labels per station (ipynb c24:2-8) and drop rows with
    * no successor (ipynb c24:11). One shuffle on stn. */
  def addLeadLabels(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("stn")).orderBy(col("date"))
    df.withColumn(labelReg, lead(col("max"), 1).over(w))
      .withColumn(labelCls, lead(col("rain_drizzle"), 1).over(w))
      .filter(col(labelReg).isNotNull && col(labelCls).isNotNull)
  }

  /** The M1–M5 stages as a single Pipeline over the given columns. */
  def pipeline(numericCols: Seq[String], categoricalCols: Seq[String]): Pipeline = {
    val indexed = categoricalCols.map(c => s"${c}_index").toArray
    val indexer = new StringIndexer()
      .setInputCols(categoricalCols.toArray).setOutputCols(indexed)
      .setStringOrderType("frequencyDesc")
    val encoder = new OneHotEncoder()
      .setInputCols(indexed)
      .setOutputCols(categoricalCols.map(c => s"${c}_vec").toArray)
    val numAssembler = new VectorAssembler()
      .setInputCols(numericCols.toArray)
      .setOutputCol("numerical_features")
    val scaler = new StandardScaler()
      .setInputCol("numerical_features").setOutputCol("scaled_numerical_features")
      .setWithMean(false).setWithStd(true)
    val finalAssembler = new VectorAssembler()
      .setInputCols((categoricalCols.map(c => s"${c}_vec") :+ "scaled_numerical_features").toArray)
      .setOutputCol("features")
    new Pipeline().setStages(Array(indexer, encoder, numAssembler, scaler, finalAssembler))
  }

  /** Full featurize: lead labels → fit pipeline → transform. `max`
    * stays among the numeric features — the reference predicts
    * tomorrow's max from today's values including today's max
    * (ipynb c13:1-19 feeding c24:13-15). */
  def featurize(df: DataFrame,
      numericCols: Seq[String] = GsodSchema.numericColumns,
      categoricalCols: Seq[String] = GsodSchema.categoricalColumns): (DataFrame, PipelineModel) = {
    val labeled = addLeadLabels(df)
    val cats = categoricalCols.filter(labeled.columns.contains)
    val nums = numericCols.filter(labeled.columns.contains)
    val model = pipeline(nums, cats).fit(labeled)
    (model.transform(labeled), model)
  }
}
