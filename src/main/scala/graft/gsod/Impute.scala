package graft.gsod

import org.apache.spark.sql.DataFrame
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
  *    semantics — progressive ±k ROWS-frame widening where step k=14
  *    only fills rows still null after k=7 (SURVEY §7.4.2) — but the
  *    ±k schedule is known before any job runs, so each step is a
  *    window column chained on the previous step's column: the whole
  *    widening is one plan, persisted once and counted in one job
  *    (SURVEY §4.3.1/.6);
  *  - `SeasonalMedian` (ipynb c16:116-155) is a per-(stn, month) window
  *    median + conditional fill with a `ProximityMedian` fallback.
  *
  * Each strategy has one implementation over a list of columns, and
  * [[applyAll]] runs adjacent strategies of the same kind and
  * parameters on distinct columns as one batch. Batching is exact: a
  * strategy reads only its own column plus the station/date keys
  * (SURVEY §7.4.3), so filling several columns in one projection gives
  * what filling them one after another gives.
  *
  * No operator re-attaches an aggregate of the frame to the frame
  * itself: the median windows partition by station like the proximity
  * windows, so the plan stays one linear chain per batch. Rows with
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

  /** Null count of every named column, in one aggregate job. */
  private def nullCounts(df: DataFrame, columns: Seq[String]): Map[String, Long] = {
    val row = df.select(columns.map(c => count(when(col(c).isNull, 1))): _*).head()
    columns.zipWithIndex.map { case (c, i) => c -> row.getLong(i) }.toMap
  }

  /** One column's result out of a batch's. */
  private def one(b: (DataFrame, Map[String, Accounting]), c: String): (DataFrame, Accounting) = (b._1, b._2(c))

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
    * median table. Every column's null count and global median come
    * from one aggregate job, not a per-station loop (SURVEY §4.3.3). */
  def medianImputer(df: DataFrame, column: String,
      keyCol: String = "stn", float32Parity: Boolean = false): (DataFrame, Accounting) =
    one(stationMedians(df, Seq(column), keyCol, float32Parity), column)

  private def stationMedians(df: DataFrame, columns: Seq[String],
      keyCol: String = "stn", float32Parity: Boolean = false): (DataFrame, Map[String, Accounting]) = {
    val stats = df.select(columns.flatMap(c => Seq(count(when(col(c).isNull, 1)), median(col(c)))): _*).head()
    val before = columns.indices.map(i => columns(i) -> stats.getLong(2 * i)).toMap
    // an entirely-null column has no median to impute from
    val global = columns.indices.filterNot(i => stats.isNullAt(2 * i + 1))
      .map(i => columns(i) -> stats.getDouble(2 * i + 1)).toMap
    val gaps = columns.filter(c => before(c) > 0 && global.contains(c))
    // The reference's Python UDF returns FloatType, so its imputed
    // values pass through a float32 round-trip before landing in the
    // double column (SURVEY §2.9). We keep doubles by default;
    // float32Parity reproduces the truncation bit-exactly.
    val out = df.withColumns(gaps.map { c =>
      val fill = coalesce(median(col(c)).over(Window.partitionBy(col(keyCol))), lit(global(c)))
      c -> when(col(c).isNull, if (float32Parity) fill.cast("float").cast("double") else fill).otherwise(col(c))
    }.toMap)
    val after = if (gaps.isEmpty) before else before ++ nullCounts(out, gaps)
    (out, after.map { case (c, n) => c -> Seq("station-median" -> n) })
  }

  /** Proximity imputer (ipynb c16:60-113 `ProximityMedian` — misnamed:
    * it computes a window *average*). Widens a ±k ROWS
    * frame (k = initialNumDays, doubling while nulls remain and
    * k <= maxDays), then scalar-fills what's left with either the
    * Greenwald–Khanna approximate median (relErr 0.001, ipynb c16:96)
    * or the global mean.
    *
    * ROWS frame, not a date-range frame — neighbors by position, so
    * date gaps silently widen the physical span, exactly like the
    * reference (SURVEY §7.4.1). Progressive: step k fills only what is
    * still null in step k/2's column, so values filled at k=7 are
    * frozen before k=14 runs (SURVEY §7.4.2). Every step of the
    * schedule is computed; the accounting stops after the first step
    * that leaves no nulls, which is where the reference's loop stops
    * (later steps change nothing). The widened frame is persisted
    * once, one aggregate job counts every step of every column, and
    * the scalar fallback reads that cached frame. */
  def proximityMedian(df: DataFrame, column: String,
      initialNumDays: Int = 7, maxDays: Int = 30,
      fallbackStrategy: String = "median",
      partitionCols: Seq[String] = Seq("stn"),
      orderCols: Seq[String] = Seq("date")): (DataFrame, Accounting) =
    one(proximity(df, Seq(column), initialNumDays, maxDays, fallbackStrategy, partitionCols, orderCols), column)

  private def proximity(df: DataFrame, columns: Seq[String], initialNumDays: Int, maxDays: Int,
      fallbackStrategy: String, partitionCols: Seq[String] = Seq("stn"),
      orderCols: Seq[String] = Seq("date")): (DataFrame, Map[String, Accounting]) = {
    require(initialNumDays > 0, s"initialNumDays must be positive, got $initialNumDays")
    if (columns.isEmpty) return (df, Map.empty)
    val ks = Iterator.iterate(initialNumDays.toLong)(_ * 2).takeWhile(_ <= maxDays).map(_.toInt).toSeq
    val w = Window.partitionBy(partitionCols.map(col): _*).orderBy(orderCols.map(col): _*)
    // stages(c): the column itself, then one column per ±k step
    val stages = columns.map(c => c -> (c +: ks.map(k => s"${c}__proximity$k"))).toMap
    val widened = ks.indices.foldLeft(df) { (cur, i) =>
      cur.withColumns(columns.map { c =>
        val prev = col(stages(c)(i))
        stages(c)(i + 1) -> when(prev.isNull, avg(prev).over(w.rowsBetween(-ks(i), ks(i)))).otherwise(prev)
      }.toMap)
    }.persist(StorageLevel.MEMORY_AND_DISK)
    val nulls = nullCounts(widened, columns.flatMap(stages))
    val stalled = columns.filter(c => nulls(stages(c).last) > 0)
    // The scalar fallback: the Greenwald–Khanna approx median of the
    // non-null values (ipynb c16:96, relativeError 0.001), or their mean,
    // for all still-null columns in one pass over the cached frame. An
    // entirely-null column leaves nothing to compute it from
    // (approxQuantile returns an empty array, avg returns null); its
    // accounting records the stall instead of crashing the job.
    val fallback = stalled.zip(
      if (stalled.isEmpty) Nil
      else if (fallbackStrategy == "median")
        widened.stat.approxQuantile(stalled.map(stages(_).last).toArray, Array(0.5), 0.001).toSeq.map(_.headOption)
      else widened.select(stalled.map(c => avg(col(stages(c).last))): _*).head().toSeq.map(Option(_))
    ).collect { case (c, Some(v: Double)) => c -> v }.toMap
    val out = widened.withColumns(columns.filter(nulls(_) > 0).map { c =>
      val filled = col(stages(c).last)
      c -> fallback.get(c).fold(filled)(v => when(filled.isNull, lit(v)).otherwise(filled))
    }.toMap).drop(columns.flatMap(stages(_).tail): _*)
    // A stage is recorded iff nulls remain before it: the reference's
    // loop condition (`missing > 0`), and its fallback condition.
    (out, columns.map { c =>
      val counts = stages(c).map(nulls) :+ (if (fallback.contains(c)) 0L else nulls(stages(c).last))
      val labels = ks.map(k => s"proximity±$k") :+ s"fallback-$fallbackStrategy"
      c -> labels.zip(counts.tail).zip(counts).collect { case (stage, before) if before > 0 => stage }
    }.toMap)
  }

  /** Seasonal-median imputer (ipynb c16:116-155
    * `ImputeTempWithSeasonalMedian`): per-(station, calendar month)
    * exact median as a window aggregate over the same frame — where the
    * reference merges a median table back in on (stn, month(date)) (J1,
    * ipynb c16:138) and has to disambiguate the duplicated columns
    * (SURVEY §7.4.4) — and a ProximityMedian fallback for
    * station-months whose median is null (ipynb c16:150-153).
    *
    * Scale: one window covers every column and partitions by station
    * first, so it reuses the station partitioning the proximity
    * windows already established; one count follows. */
  def seasonalMedian(df: DataFrame, column: String,
      initialNumDays: Int = 7, maxDays: Int = 31): (DataFrame, Accounting) =
    one(seasonal(df, Seq(column), initialNumDays, maxDays), column)

  private def seasonal(df: DataFrame, columns: Seq[String], initialNumDays: Int, maxDays: Int)
      : (DataFrame, Map[String, Accounting]) = {
    val byMonth = Window.partitionBy(col("stn"), month(col("date")))
    def filled(c: String) = s"${c}__seasonal"
    val medians = df.withColumns(columns.map(c => filled(c) ->
        when(col(c).isNull, median(col(c)).over(byMonth)).otherwise(col(c))).toMap)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nulls = nullCounts(medians, columns.flatMap(c => Seq(c, filled(c))))
    val gaps = columns.filter(nulls(_) > 0)
    val seasonalFilled = medians.withColumns(gaps.map(c => c -> col(filled(c))).toMap).drop(columns.map(filled): _*)
    val (out, prox) = proximity(seasonalFilled, gaps.filter(c => nulls(filled(c)) > 0), initialNumDays, maxDays, "median")
    (out, columns.map(c => c -> (("seasonal-median" -> nulls(filled(c))) +: prox.getOrElse(c, Nil))).toMap)
  }

  /** A single imputation strategy bound to its target column. */
  sealed trait Strategy extends Product { def column: String }
  final case class Proximity(column: String, initial: Int = 7, max: Int = 30,
      fallback: String = "median") extends Strategy
  final case class Zero(column: String) extends Strategy
  final case class Seasonal(column: String, initial: Int = 7, max: Int = 31) extends Strategy
  final case class StationMedian(column: String) extends Strategy

  /** The reference's dispatch table in insertion order (ipynb c17:1-10;
    * order matters — SURVEY §7.4.3). */
  val referenceStrategies: Seq[Strategy] = Seq(
    Proximity("visib"), Proximity("wdsp"), Proximity("mxpsd"),
    Zero("prcp"),
    Seasonal("max"), Seasonal("min"))

  /** A strategy's class and parameters: `column` is every strategy's
    * first field, and strategies of equal kind can run as one batch. */
  private def kind(st: Strategy): (Class[_], List[Any]) = (st.getClass, st.productIterator.drop(1).toList)

  /** Apply strategies in order, threading one DataFrame through
    * (ipynb c18:1-2), collecting per-stage accounting. Adjacent
    * strategies of the same kind and parameters on distinct columns
    * run as one batch; a column named again starts a new batch, so it
    * sees the earlier strategy's output. */
  def applyAll(df: DataFrame,
      strategies: Seq[Strategy] = referenceStrategies): (DataFrame, Map[String, Accounting]) = {
    val batches = strategies.foldLeft(Vector.empty[Vector[Strategy]]) {
      case (done :+ batch, st) if kind(batch.head) == kind(st) && !batch.exists(_.column == st.column) =>
        done :+ (batch :+ st)
      case (done, st) => done :+ Vector(st)
    }
    batches.foldLeft((df, Map.empty[String, Accounting])) { case ((cur, acc), batch) =>
      val cols = batch.map(_.column)
      val (next, a) = batch.head match {
        case Proximity(_, i, m, f) => proximity(cur, cols, i, m, f)
        case Zero(_) => (cols.foldLeft(cur)(zeroFill), cols.map(_ -> Seq("zero-fill" -> 0L)).toMap)
        case Seasonal(_, i, m) => seasonal(cur, cols, i, m)
        case StationMedian(_) => stationMedians(cur, cols)
      }
      (next, acc ++ a)
    }
  }
}
