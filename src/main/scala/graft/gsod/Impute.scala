package graft.gsod

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The reference's composite imputation operators (SURVEY.md §2.12),
  * re-expressed Spark-first:
  *
  *  - the driver-collected station-median dict + Python UDF of
  *    `MedianImputer` (ipynb c16:1-55) becomes a per-station window
  *    median + `coalesce` to the global median — same values (modulo
  *    the reference's float32 round-trip, deliberately not reproduced;
  *    SURVEY §2.9/§7.5), zero driver round-trips, no Python workers;
  *  - `ProximityMedian` (ipynb c16:60-113) keeps the reference's exact
  *    control flow — progressive ±k ROWS-frame widening where iteration
  *    k=14 only fills rows still null after k=7 (SURVEY §7.4.2) — but
  *    persists each iteration so the lineage doesn't re-execute
  *    (SURVEY §4.3.1/.6);
  *  - `SeasonalMedian` (ipynb c16:116-155) is a per-(stn, month) window
  *    median + conditional fill with a recursive `ProximityMedian`
  *    fallback.
  *
  * No operator re-attaches an aggregate of the frame to the frame
  * itself: the median windows partition by station like the proximity
  * windows, so the plan stays one linear chain per strategy. Rows with
  * a null key form one median group of their own (GSOD's `stn` and
  * `date` are non-nullable, GsodSchema).
  *
  * Every operator is a pure DataFrame→DataFrame function; the
  * per-stage fill accounting the reference prints (ipynb c18:out) is
  * returned alongside as [[Accounting]].
  */
object Impute {

  /** Ordered (stageLabel, rowsStillMissingAfterStage) trace — mirrors
    * the reference's printed accounting (ipynb c18:out). */
  type Accounting = Seq[(String, Long)]

  private def nullCount(df: DataFrame, c: String): Long =
    df.filter(col(c).isNull).count()

  /** Zero-fill (ipynb c17:7: `na.fill({'prcp': 0})`). Flips the column
    * non-nullable, matching the reference's post-fill schema
    * (ipynb c21:out; SURVEY §7.4.5). */
  def zeroFill(df: DataFrame, column: String): DataFrame =
    df.na.fill(Map(column -> 0.0))

  /** Station-median imputer (ipynb c16:1-55 `MedianImputer`): fill each
    * null with its station's median, falling back to the global median
    * for all-null stations (ipynb c16:26-30 / c16:37 `dict.get`
    * fallback).
    *
    * Scale: the station median is a window aggregate partitioned by
    * `keyCol` — one sort within the station partitioning, no derived
    * median table. The null count and the global median come from
    * one aggregate job, not a per-station loop (SURVEY §4.3.3). */
  def medianImputer(df: DataFrame, column: String,
      keyCol: String = "stn", float32Parity: Boolean = false): (DataFrame, Accounting) = {
    val stats = df.agg(count(when(col(column).isNull, 1)), median(col(column))).head()
    val before = stats.getLong(0)
    if (before == 0) return (df, Seq("station-median" -> 0L))
    if (stats.isNullAt(1)) {
      // column is entirely null — nothing to impute from
      return (df, Seq("station-median" -> before))
    }
    // The reference's Python UDF returns FloatType, so its imputed
    // values pass through a float32 round-trip before landing in the
    // double column (SURVEY §2.9). We keep doubles by default;
    // float32Parity reproduces the truncation bit-exactly.
    val fillValue = {
      val fill = coalesce(median(col(column)).over(Window.partitionBy(col(keyCol))),
        lit(stats.getDouble(1)))
      if (float32Parity) fill.cast("float").cast("double") else fill
    }
    val out = df.withColumn(column,
      when(col(column).isNull, fillValue).otherwise(col(column)))
    (out, Seq("station-median" -> nullCount(out, column)))
  }

  /** Proximity imputer (ipynb c16:60-113 `ProximityMedian` — misnamed:
    * it computes a window *average*, ipynb c16:85). Widens a ±k ROWS
    * frame (k = initialNumDays, doubling while nulls remain and
    * k <= maxDays), then scalar-fills what's left with either the
    * Greenwald–Khanna approximate median (relErr 0.001, ipynb c16:96)
    * or the global mean.
    *
    * ROWS frame, not a date-range frame — neighbors by position, so
    * date gaps silently widen the physical span, exactly like the
    * reference (SURVEY §7.4.1). Progressive: each iteration re-bases on
    * the previous output, so values filled at k=7 are frozen before
    * k=14 runs (SURVEY §7.4.2). Each iteration is persisted: the loop
    * is O(iterations) jobs, not O(iterations²) lineage replay. */
  def proximityMedian(df: DataFrame, column: String,
      initialNumDays: Int = 7, maxDays: Int = 30,
      fallbackStrategy: String = "median",
      partitionCols: Seq[String] = Seq("stn"),
      orderCols: Seq[String] = Seq("date")): (DataFrame, Accounting) = {

    val acc = scala.collection.mutable.ListBuffer.empty[(String, Long)]
    var cur = df
    var curPersisted: Option[DataFrame] = None
    var missing = nullCount(cur, column)
    var k = initialNumDays
    val w = Window.partitionBy(partitionCols.map(col): _*).orderBy(orderCols.map(col): _*)

    while (missing > 0 && k <= maxDays) {
      val next = cur.withColumn(column,
        when(col(column).isNull, avg(col(column)).over(w.rowsBetween(-k, k)))
          .otherwise(col(column)))
        .persist(StorageLevel.MEMORY_AND_DISK)
      missing = nullCount(next, column) // materializes the persist
      curPersisted.foreach(_.unpersist(false))
      curPersisted = Some(next)
      cur = next
      acc += (s"proximity±$k" -> missing)
      k *= 2
    }

    if (missing > 0) {
      // An entirely-null column leaves nothing to compute a fallback
      // from (approxQuantile returns an empty array, avg returns null);
      // record the stall instead of crashing the job on degenerate input.
      val fb: Option[Double] = fallbackStrategy match {
        case "median" =>
          // Greenwald–Khanna approx median over the non-null values
          // (ipynb c16:96, relativeError 0.001).
          cur.stat.approxQuantile(column, Array(0.5), 0.001).headOption
        case _ =>
          val row = cur.agg(avg(col(column))).head()
          if (row.isNullAt(0)) None else Some(row.getDouble(0))
      }
      fb.foreach { v =>
        cur = cur.withColumn(column, when(col(column).isNull, lit(v)).otherwise(col(column)))
      }
      acc += (s"fallback-$fallbackStrategy" -> nullCount(cur, column))
    }
    (cur, acc.toList)
  }

  /** Seasonal-median imputer (ipynb c16:116-155
    * `ImputeTempWithSeasonalMedian`): per-(station, calendar month)
    * exact median as a window aggregate over the same frame — where the
    * reference merges a median table back in on (stn, month(date)) (J1,
    * ipynb c16:138) and has to disambiguate the duplicated columns
    * (SURVEY §7.4.4) — and a recursive ProximityMedian fallback for
    * station-months whose median is null (ipynb c16:150-153).
    *
    * Scale: the window partitions by station first, so it reuses the
    * station partitioning the proximity windows already established. */
  def seasonalMedian(df: DataFrame, column: String,
      initialNumDays: Int = 7, maxDays: Int = 31): (DataFrame, Accounting) = {
    val before = nullCount(df, column)
    if (before == 0) return (df, Seq("seasonal-median" -> 0L))

    val seasonal = median(col(column)).over(Window.partitionBy(col("stn"), month(col("date"))))
    val filled = df.withColumn(column,
        when(col(column).isNull, seasonal).otherwise(col(column)))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val afterSeasonal = nullCount(filled, column)
    val acc = scala.collection.mutable.ListBuffer[(String, Long)]("seasonal-median" -> afterSeasonal)
    val out =
      if (afterSeasonal > 0) {
        val (fixed, proxAcc) = proximityMedian(filled, column, initialNumDays, maxDays, "median")
        acc ++= proxAcc
        fixed
      } else filled
    (out, acc.toList)
  }

  /** A single imputation strategy bound to its target column. */
  sealed trait Strategy { def column: String; def label: String }
  final case class Proximity(column: String, initial: Int = 7, max: Int = 30,
      fallback: String = "median") extends Strategy { val label = "proximity" }
  final case class Zero(column: String) extends Strategy { val label = "zero" }
  final case class Seasonal(column: String, initial: Int = 7, max: Int = 31)
      extends Strategy { val label = "seasonal" }
  final case class StationMedian(column: String) extends Strategy { val label = "station-median" }

  /** The reference's dispatch table in insertion order (ipynb c17:1-10;
    * order matters — SURVEY §7.4.3). */
  val referenceStrategies: Seq[Strategy] = Seq(
    Proximity("visib"), Proximity("wdsp"), Proximity("mxpsd"),
    Zero("prcp"),
    Seasonal("max"), Seasonal("min"))

  /** Apply strategies in order, threading one DataFrame through
    * (ipynb c18:1-2), collecting per-stage accounting. */
  def applyAll(df: DataFrame,
      strategies: Seq[Strategy] = referenceStrategies): (DataFrame, Map[String, Accounting]) = {
    var cur = df
    val acc = scala.collection.mutable.LinkedHashMap.empty[String, Accounting]
    strategies.foreach { st =>
      val (next, a) = st match {
        case Proximity(c, i, m, f) => proximityMedian(cur, c, i, m, f)
        case Zero(c) => (zeroFill(cur, c), Seq("zero-fill" -> 0L))
        case Seasonal(c, i, m) => seasonalMedian(cur, c, i, m)
        case StationMedian(c) => medianImputer(cur, c)
      }
      cur = next
      acc += (st.column -> a)
    }
    (cur, acc.toMap)
  }
}
