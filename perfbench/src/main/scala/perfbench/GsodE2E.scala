package perfbench

import java.nio.file.{Files, Paths}
import java.time.LocalDate
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.gsod._
import Workload.{median, time}

/** Seeded GSOD-shaped daily-summary frame: `stations` × 365 days, ~2%
  * sentinels per numeric column, planted 40-day visib sentinel runs
  * (longer than the ±30 proximity window, so the fallback runs) and
  * planted all-sentinel Januaries in `max` (the seasonal median is then
  * null and its proximity fallback runs), each in one station of 50.
  * Temperatures carry a station offset plus a seasonal sine shared by
  * temp/max/min, so tomorrow's max is learnable (R² near 0.93); wetness
  * classes make rain predictable. */
object GsodGen {
  val Days = 365

  /** Sentinel value per generated numeric column (the GSOD convention). */
  val sentinels: Seq[(String, Double)] = Seq(
    "temp" -> 9999.9, "visib" -> 999.9, "wdsp" -> 999.9, "mxpsd" -> 999.9,
    "max" -> 9999.9, "min" -> 9999.9, "prcp" -> 99.99)

  def frame(spark: SparkSession, seed: Long, stations: Int): DataFrame = {
    val s = lit(seed)
    def hash(cs: Column*): Column = xxhash64((cs :+ s): _*)
    val stnBase = pmod(hash(col("sid"), lit(7)), lit(200)) / 10.0 - 10.0
    val season = sin(col("day") * (2.0 * math.Pi / Days)) * 15.0
    def noise(k: Int) = pmod(hash(col("h"), lit(k)), lit(100)) / 10.0 - 5.0
    val wet = pmod(hash(col("sid"), lit(11)), lit(4))
    // exactly one station in 50 of each planted kind, at seeded positions,
    // so every seed gives the same imputation work
    val offset = Math.floorMod(seed * 7919L, 50L)
    val visibRunStart = pmod(hash(col("sid"), lit(19)), lit(300))
    val visibRun = pmod(col("sid") + offset, lit(50)) === 0 &&
      col("day").between(visibRunStart, visibRunStart + 39)
    val januaryMaxGone = pmod(col("sid") + offset, lit(50)) === 25 && col("day") < 31
    def sentinelOr(cond: Column, sentinel: Double, value: Column): Column =
      when(cond, lit(sentinel)).otherwise(value)
    val base = java.sql.Date.valueOf(LocalDate.of(2023, 1, 1))
    spark.range(0, stations.toLong * Days, 1, spark.sparkContext.defaultParallelism)
      .select((col("id") / Days).cast("long").as("sid"), (col("id") % Days).cast("int").as("day"))
      .withColumn("h", hash(col("sid") * 100000 + col("day")))
      .select(
        format_string("%06d", col("sid")).as("stn"),
        date_add(lit(base), col("day")).as("date"),
        sentinelOr(pmod(col("h"), lit(50)) === 0, 9999.9,
          lit(60.0) + stnBase + season + noise(1)).as("temp"),
        sentinelOr(visibRun || pmod(col("h"), lit(47)) === 0, 999.9,
          lit(1.0) + pmod(col("h"), lit(90)) / 10.0).as("visib"),
        sentinelOr(pmod(col("h"), lit(53)) === 0, 999.9,
          lit(2.0) + pmod(col("h"), lit(130)) / 10.0).as("wdsp"),
        sentinelOr(pmod(col("h"), lit(59)) === 0, 999.9,
          lit(5.0) + pmod(col("h"), lit(200)) / 10.0).as("mxpsd"),
        sentinelOr(januaryMaxGone || pmod(col("h"), lit(61)) === 0, 9999.9,
          lit(70.0) + stnBase + season + noise(2)).as("max"),
        sentinelOr(pmod(col("h"), lit(67)) === 0, 9999.9,
          lit(45.0) + stnBase + season + noise(3)).as("min"),
        sentinelOr(pmod(col("h"), lit(11)) === 0, 99.99,
          wet * 0.5 + pmod(col("h"), lit(10)) / 10.0).as("prcp"),
        pmod(col("h"), lit(2)).cast("int").as("fog"),
        (wet + pmod(hash(col("h"), lit(13)), lit(4)) >= 4).cast("int").as("rain_drizzle"),
        (pmod(col("h"), lit(31)) === 0).cast("int").as("snow_ice_pellets"),
        (pmod(col("h"), lit(37)) === 0).cast("int").as("hail"),
        (pmod(col("h"), lit(13)) === 0).cast("int").as("thunder"),
        (pmod(col("h"), lit(97)) === 0).cast("int").as("tornado_funnel_cloud"))
  }

  /** Planted ground truth: sentinel cells per column. */
  def plantedMissing(raw: DataFrame): Map[String, Long] = {
    val row = raw.agg(count(lit(1)).as("n"), sentinels.map { case (c, v) =>
      sum(when(col(c) === v, 1L).otherwise(0L)).as(c)
    }: _*).head()
    sentinels.map { case (c, _) => c -> row.getAs[Long](c) }.toMap
  }
}

/** The paper's own program: clean → impute → featurize → train →
  * evaluate over a seeded GSOD-shaped frame. */
final class GsodE2E(spark: SparkSession) extends Workload {
  val name = "gsod_e2e"
  val Stations = 100
  val GbtRounds = 3

  private var raw: DataFrame = _
  private var inputDir: String = _
  private var rows = 0L
  private var planted = Map.empty[String, Long]

  /** Generates the frame and stores it as parquet under the JVM's temp
    * directory; every pass reads that copy, so no pass regenerates its
    * input inside the timed region. */
  def build(seed: Long): String = {
    if (inputDir != null) removeTree(inputDir)
    inputDir = Files.createTempDirectory("gsod-input").resolve("raw").toString
    GsodGen.frame(spark, seed, Stations).write.parquet(inputDir)
    raw = spark.read.parquet(inputDir)
    rows = raw.count()
    planted = GsodGen.plantedMissing(raw)
    Fingerprint.of(raw)
  }

  def fingerprint(seed: Long): String = Fingerprint.of(GsodGen.frame(spark, seed, Stations))

  /** None: the timed pass is the program's first run in the JVM, as a
    * scheduled pipeline job runs it. A pass costs mostly per job and per
    * plan, not per row, so a warm-up on a smaller frame would cost about
    * as much as the timed pass. */
  def warmup(): Seq[Op] = Nil

  private def numeric(df: DataFrame): Seq[String] =
    GsodSchema.numericColumns.filter(df.columns.contains)

  private def nullCounts(df: DataFrame, cols: Seq[String]): Map[String, Long] = {
    val row = df.agg(count(lit(1)), cols.map(c => sum(col(c).isNull.cast("long")).as(c)): _*).head()
    cols.map(c => c -> row.getAs[Long](c)).toMap
  }

  private def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** GsodPipeline.prepare taken apart at its layer boundaries: the
    * same public calls in the same order, each forced and spanned.
    * Returns the imputed frame, its accounting and the nulls Clean left. */
  private def tracedPrepare(raw: DataFrame, t: Tracer): (DataFrame, Map[String, Impute.Accounting], Long) = {
    val (cleaned, nullsAfterClean) = t.span("gsod.Clean") {
      val c = Clean.dropSparseColumns(Clean.sentinelToNull(raw))
      (c, nullCounts(c, numeric(c)).values.sum)
    }
    t.span("gsod.Impute") {
      var cur = cleaned
      val acc = scala.collection.mutable.LinkedHashMap.empty[String, Impute.Accounting]
      Impute.referenceStrategies.foreach { st =>
        val label = st match {
          case _: Impute.Proximity => "proximity"
          case _: Impute.Zero => "zero"
          case _: Impute.Seasonal => "seasonal"
          case _: Impute.StationMedian => "station_median"
        }
        cur = t.span(s"gsod.Impute.$label") {
          val (next, a) = Impute.applyAll(cur, Seq(st))
          force(next)
          acc ++= a
          next
        }
      }
      cur = t.span("gsod.Impute.station_median") {
        val remaining = Clean.missingCountMap(cur, numeric(cur)).filter(_._2 > 0).keys.toSeq.sorted
        val out = remaining.foldLeft(cur) { (df, c) =>
          val (next, a) = Impute.medianImputer(df, c)
          acc += c -> a
          next
        }
        force(out)
        out
      }
      (cur, acc.toMap, nullsAfterClean)
    }
  }

  private final case class ModelOut(featurizedRows: Long, r2: Double, accuracy: Double,
      majority: Double, featS: Double, lrS: Double, gbtS: Double)

  /** Featurize, train LR and GBT, evaluate both; returns the quality
    * figures and the time of each step. */
  private def model(frame: DataFrame, t: Tracer): ModelOut = {
    val (feat, featS) = time(t.span("gsod.Features") {
      val (f, _) = Features.featurize(frame)
      val p = f.persist(StorageLevel.MEMORY_AND_DISK)
      p.count()
      p
    })
    t.span("gsod.Train") {
      val ((train, test, lr), lrS) = time(t.span("gsod.Train.lr") {
        val (tr, te) = Train.split(feat)
        (tr, te, Train.linearRegression(tr))
      })
      val (gbt, gbtS) = time(t.span("gsod.Train.gbt") {
        Train.gbtClassifier(train, maxIter = GbtRounds)
      })
      val (reg, cls) = t.span("gsod.Train.eval") {
        (Train.evaluateRegression(lr.transform(test)),
          Train.evaluateClassification(gbt.transform(test)))
      }
      val labels = test.groupBy(col(Features.labelCls)).count().collect().map(_.getLong(1))
      ModelOut(feat.count(), reg.r2, cls.accuracy, labels.max.toDouble / labels.sum,
        featS, lrS, gbtS)
    }
  }

  /** Every planted sentinel cell is filled and every other cell is
    * unchanged, column by column. */
  private def conserved(frame: DataFrame): Boolean = {
    val cols = GsodGen.sentinels.filter { case (c, _) => frame.columns.contains(c) }
    val r = raw.select(Seq(col("stn"), col("date")) ++ cols.map { case (c, _) => col(c).as(s"raw_$c") }: _*)
    val joined = r.join(frame, Seq("stn", "date"))
    val bad = cols.map { case (c, v) =>
      sum(when(col(s"raw_$c") === v && (col(c).isNull || col(c) === v), 1L)
        .when(col(s"raw_$c") =!= v && !(col(c) <=> col(s"raw_$c")), 1L)
        .otherwise(0L))
    }.reduce(_ + _)
    val row = joined.agg(count(lit(1)), bad).head()
    row.getLong(0) == rows && row.getLong(1) == 0L
  }

  private final case class PipelineOut(accounting: Map[String, Impute.Accounting],
      nullsAfterClean: Long, prepS: Double, planS: Double, planMb: Double, model: ModelOut,
      modelS: Double, dir: String)

  /** Prepare, then hand the prepared frame to the model stage through
    * parquet, as a scheduled clean job hands its table to the train job.
    * Without the hand-off every job of the model stage plans over
    * prepare's whole lineage (an optimized plan of tens of MB;
    * `gsod.Prepare.plan_mb`) and one pass takes minutes. What one such
    * plan costs stays measured: the model stage's input, the lead
    * labels of `Features`, is planned once on the frame prepare returns,
    * as `GsodPipeline.run` hands it over (planning only, no job). */
  private def pipeline(input: DataFrame, t: Tracer): PipelineOut = {
    val dir = Files.createTempDirectory("gsod-prepared").resolve("frame").toString
    val ((imputed, acc, nullsAfterClean), callS) = time(t.span("gsod.Prepare") {
      if (t.enabled) tracedPrepare(input, t)
      else {
        val (f, a) = GsodPipeline.prepare(input)
        (f, a, -1L)
      }
    })
    val (_, planS) = time(t.span("gsod.Features.plan") {
      Features.addLeadLabels(imputed).queryExecution.executedPlan
    })
    val planMb = if (t.enabled) imputed.queryExecution.optimizedPlan.treeString.length / 1e6 else 0.0
    // runs what prepare left lazy, so it counts as prepare
    val (_, writeS) = time(t.span("gsod.Prepare.write")(imputed.write.parquet(dir)))
    val (m, modelS) = time(model(spark.read.parquet(dir), t))
    PipelineOut(acc, nullsAfterClean, callS + writeS, planS, planMb, m, modelS, dir)
  }

  private def removeTree(dir: String): Unit =
    Files.walk(Paths.get(dir).getParent).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))

  def pass(t: Tracer, first: Boolean): PassResult = {
    val (out, wall) = time(pipeline(raw, t))
    val PipelineOut(acc, nullsAfterClean, prepS, planS, planMb, m, modelS, dir) = out
    // checks read the parquet copy: its plan is shallow
    val prepared = spark.read.parquet(dir)
    val nulls = nullCounts(prepared, numeric(prepared))
    val accountingOk = planted.forall { case (c, n) =>
      n == 0 || acc.get(c).exists { a =>
        val left = a.map(_._2)
        left.nonEmpty && left.last == 0L && left.forall(_ <= n) &&
          left.zip(left.drop(1)).forall { case (x, y) => y <= x }
      }
    }
    val prepOk = nulls.values.forall(_ == 0L) && prepared.count() == rows && accountingOk &&
      (!first || conserved(prepared))
    spark.catalog.clearCache()
    removeTree(dir)
    val ops = Seq(
      Op("prepare", prepS, prepOk, s"nulls=$nulls accounting_ok=$accountingOk"),
      Op("model_plan", planS, ok = true),
      Op("featurize", m.featS, m.featurizedRows > 0),
      Op("linear_regression", m.lrS, m.r2 >= 0.88 && m.r2 <= 0.97, s"r2=${m.r2}"),
      Op("gbt_classifier", m.gbtS, m.accuracy > m.majority,
        s"accuracy=${m.accuracy} majority=${m.majority}"))
    PassResult(wall, ops, Map(
      "prep_s" -> prepS, "model_s" -> (planS + modelS), "r2" -> m.r2, "accuracy" -> m.accuracy,
      "gsod.Impute.rows_filled" -> (nullsAfterClean - nulls.values.sum).toDouble, "gsod.Prepare.plan_mb" -> planMb))
  }

  def summary(passes: Seq[PassResult]): Summary = {
    def med(k: String) = median(passes.map(_.stats(k)))
    val prepRowsPerS = rows / med("prep_s")
    Summary(Seq(
      ("gsod.prep_rows_per_s", prepRowsPerS, "1/s"),
      ("gsod.model_s", med("model_s"), "s"),
      ("gsod.e2e_s", median(passes.map(_.wallS)), "s"),
      ("gsod.rows", rows.toDouble, "count")),
      opP50S = med("model_s"), throughput = prepRowsPerS)
  }
}
