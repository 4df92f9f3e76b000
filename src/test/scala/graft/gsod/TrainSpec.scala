package graft.gsod

import org.apache.spark.{JobCount, SparkException}
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.bench.GsodBench

class FeaturesSpec extends SparkSpec {

  lazy val imputed: org.apache.spark.sql.DataFrame =
    GsodPipeline.prepare(Fixture.df(spark))._1

  test("lead labels: one dropped row per station (last has no successor)") {
    val labeled = Features.addLeadLabels(imputed)
    val nStations = imputed.select("stn").distinct().count()
    assert(labeled.count() == imputed.count() - nStations)
  }

  test("lead label is the NEXT ROW's max, not next calendar day") {
    val labeled = Features.addLeadLabels(imputed)
    val one = imputed.filter(col("stn") === "010010")
      .orderBy("date").select("max").collect().map(_.getDouble(0))
    val labels = labeled.filter(col("stn") === "010010")
      .orderBy("date").select(Features.labelReg).collect().map(_.getDouble(0))
    assert(labels.toSeq == one.toSeq.drop(1))
  }

  test("feature vector layout: categorical vecs first, then scaled numerics") {
    val (out, _) = Features.featurize(imputed,
      numericCols = Seq("temp", "visib", "max", "min"),
      categoricalCols = Seq("rain_drizzle"))
    val row = out.select("features", "rain_drizzle_vec", "scaled_numerical_features").head()
    val features = row.getAs[Vector](0)
    val catVec = row.getAs[Vector](1)
    val scaled = row.getAs[Vector](2)
    assert(features.size == catVec.size + scaled.size)
    // prefix of `features` equals the categorical vector (ipynb c26:6-8 order)
    assert((0 until catVec.size).forall(i => features(i) == catVec(i)))
    assert((0 until scaled.size).forall(i => features(catVec.size + i) == scaled(i)))
  }

  test("scaler is scale-only (no centering): zero stays zero") {
    // withMean=false means a zero input coordinate stays exactly 0
    val (out, _) = Features.featurize(imputed,
      numericCols = Seq("prcp"), categoricalCols = Seq("fog"))
    val zeros = out.filter(col("prcp") === 0.0)
    if (zeros.count() > 0) {
      val v = zeros.select("scaled_numerical_features").head().getAs[Vector](0)
      assert(v(0) == 0.0)
    }
  }

  /** 20 stations x 365 days, prepared: every indicator takes both 0 and 1. */
  lazy val benchPrepared: org.apache.spark.sql.DataFrame =
    GsodPipeline.prepare(GsodBench.generate(spark, 20, 365))._1

  test("each 0/1 indicator encodes to one slot (default indexer, dropLast): no phantom label") {
    val (out, _) = Features.featurize(benchPrepared)
    val row = out.head()
    GsodSchema.categoricalColumns.foreach { c =>
      val levels = benchPrepared.select(c).distinct().collect().map(_.getInt(0)).sorted.toSeq
      assert(levels == Seq(0, 1), s"$c levels")
      assert(row.getAs[Vector](s"${c}_vec").size == 1, s"${c}_vec")
    }
    assert(row.getAs[Vector]("features").size ==
      GsodSchema.categoricalColumns.size + GsodSchema.numericColumns.size)
  }

  test("a null indicator fails with StringIndexer's NULL error, as in the reference") {
    // `fog` is not a label source, so addLeadLabels keeps its null rows
    val withNull = imputed.withColumn("fog",
      when(col("stn") === "010010", lit(null).cast("int")).otherwise(dayofmonth(col("date")) % 2))
    val e = intercept[SparkException] {
      Features.featurize(withNull)._1.select("features").collect()
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(messages.exists(m => m != null && m.contains("StringIndexer encountered NULL value")),
      e.getMessage)
  }

  test("featurize starts at most 10 Spark jobs (fit + one noop write): one indexer pass for all indicators") {
    // Six single-column indexer fits started 21 jobs here; one
    // multi-column fit starts 6.
    val frame = benchPrepared.persist()
    frame.count()
    val jobs =
      try JobCount(spark.sparkContext, "features-job-count") {
        Features.featurize(frame)._1.write.format("noop").mode("overwrite").save()
      } finally frame.unpersist()
    assert(jobs > 0 && jobs <= 10, s"featurize jobs: $jobs")
  }
}

class TrainSpec extends SparkSpec {

  lazy val result: GsodPipeline.Result =
    GsodPipeline.run(Fixture.df(spark), gbtIter = 5)

  test("end-to-end pipeline produces finite regression metrics") {
    val m = result.regression
    assert(!m.rmse.isNaN && m.rmse > 0)
    assert(math.abs(m.mse - m.rmse * m.rmse) < 1e-6)
    assert(m.mae > 0 && m.mae <= m.rmse + 1e-9)
  }

  test("GBT regressor beats or ties a constant predictor (r2 > 0 is not guaranteed on tiny data, but metrics are finite)") {
    val m = result.gbtRegression
    assert(!m.rmse.isNaN && m.rmse > 0 && !m.r2.isNaN)
  }

  test("classifier metrics are proper probabilities/areas") {
    val m = result.classification
    assert(m.accuracy >= 0 && m.accuracy <= 1)
    assert(m.areaUnderPR >= 0 && m.areaUnderPR <= 1)
    assert(m.areaUnderROC >= 0 && m.areaUnderROC <= 1)
  }

  test("imputation accounting covers every strategy column") {
    assert(Impute.referenceStrategies.map(_.column).toSet
      .subsetOf(result.imputeAccounting.keySet))
  }

  /** LR on the 20-station year: the test half and the fitted model. */
  lazy val benchLr: (org.apache.spark.sql.DataFrame, org.apache.spark.ml.regression.LinearRegressionModel) = {
    val (imputed, _) = GsodPipeline.prepare(GsodBench.generate(spark, 20, 365))
    val (featurized, _) = Features.featurize(imputed)
    val (tr, te) = Train.split(featurized)
    (te, Train.linearRegression(tr))
  }

  test("GsodBench generator plants learnable signal: LR recovers R2 >= 0.8 (reference band ~0.93)") {
    // 20 stations x 365 days: full seasonal cycle, station offsets, iid
    // noise — the same generator GsodBench times at 4M rows, so this
    // floor is the fixture-scale evidence behind the BASELINE.md
    // model-quality row.
    val (te, lr) = benchLr
    val m = Train.evaluateRegression(lr.transform(te))
    assert(m.r2 >= 0.8, s"lr_r2=${m.r2}")
  }

  test("LR solves the full-rank design by Cholesky: no L-BFGS fallback, standard errors available") {
    val (_, lr) = benchLr
    assert(lr.summary.totalIterations == 0)
    val se = lr.summary.coefficientStandardErrors
    assert(se.length == lr.coefficients.size + 1 && se.forall(s => !s.isNaN && s > 0), se.toSeq)
  }

  test("prepare leaves zero nulls in all numeric columns (ipynb c20:out)") {
    val (prepared, _) = GsodPipeline.prepare(Fixture.df(spark))
    val numeric = GsodSchema.numericColumns.filter(prepared.columns.contains)
    val m = Clean.missingCountMap(prepared, numeric)
    assert(m.values.forall(_ == 0L), s"missing after prepare: $m")
  }

  test("seeded split is reproducible") {
    val (featurized, _) = Features.featurize(GsodPipeline.prepare(Fixture.df(spark))._1)
    val (a1, _) = Train.split(featurized)
    val (a2, _) = Train.split(featurized)
    assert(a1.count() == a2.count())
  }

  test("model persistence round-trips (M14)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-model").toString
    val (featurized, _) = Features.featurize(GsodPipeline.prepare(Fixture.df(spark))._1)
    val (train, test) = Train.split(featurized)
    val model = Train.gbtRegressor(train, maxIter = 3)
    model.write.overwrite().save(dir)
    val loaded = org.apache.spark.ml.regression.GBTRegressionModel.load(dir)
    val a = model.transform(test).select("prediction").collect().map(_.getDouble(0))
    val b = loaded.transform(test).select("prediction").collect().map(_.getDouble(0))
    assert(a.toSeq == b.toSeq)
    assert(loaded.featureImportances.size == model.featureImportances.size)
  }
}
