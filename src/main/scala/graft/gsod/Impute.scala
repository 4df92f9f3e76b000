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
  *    window column chained on the previous step's column
  *    (SURVEY §4.3.1/.6);
  *  - `SeasonalMedian` (ipynb c16:116-155) is a per-(stn, month) window
  *    median + conditional fill with a `ProximityMedian` fallback chain.
  *
  * [[applyAll]] runs each maximal run of strategies on distinct columns
  * as ONE plan: every strategy adds its step columns (a station median,
  * a seasonal median, a ±k chain), computed for every row whether or
  * not a gap needs them. A run with ±k chains is persisted once; one
  * aggregate job returns every step's null count and every
  * station-median column's global median; the scalar fallback reads the
  * cached frame once, for the stalled chains only; a final projection
  * keeps each column's answer and drops the steps. This is exact: a strategy reads only its
  * own column plus the station/date keys (SURVEY §7.4.3), so filling
  * several columns in one plan gives what filling them one after
  * another gives. The single-column operators are one-strategy runs.
  *
  * No operator re-attaches an aggregate of the frame to the frame
  * itself: the median windows partition by station like the proximity
  * windows, so the plan stays one linear chain per run. Rows with
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

  /** One column's result out of a run's. */
  private def one(r: (DataFrame, Map[String, Accounting], Map[String, Long]), c: String) = (r._1, r._2(c))

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
    * median table. The null count and global median come from the
    * run's one aggregate job, not a per-station loop (SURVEY §4.3.3);
    * a filled column's post-fill count is 0 by construction, so no
    * second job counts it. The reference's Python UDF returns
    * FloatType, so its imputed values pass through a float32 round-trip
    * (SURVEY §2.9); doubles are kept by default, and `float32Parity`
    * reproduces the truncation bit-exactly. */
  def medianImputer(df: DataFrame, column: String,
      keyCol: String = "stn", float32Parity: Boolean = false): (DataFrame, Accounting) =
    one(run(df, Seq(StationMedian(column)), Seq(keyCol), float32Parity = float32Parity), column)

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
    * (later steps change nothing). An entirely-null column leaves no
    * value to fall back to; its accounting records the stall. */
  def proximityMedian(df: DataFrame, column: String,
      initialNumDays: Int = 7, maxDays: Int = 30,
      fallbackStrategy: String = "median",
      partitionCols: Seq[String] = Seq("stn"),
      orderCols: Seq[String] = Seq("date")): (DataFrame, Accounting) =
    one(run(df, Seq(Proximity(column, initialNumDays, maxDays, fallbackStrategy)), partitionCols, orderCols), column)

  /** Seasonal-median imputer (ipynb c16:116-155
    * `ImputeTempWithSeasonalMedian`): per-(station, calendar month)
    * exact median as a window aggregate over the same frame — where the
    * reference merges a median table back in on (stn, month(date)) (J1,
    * ipynb c16:138) and has to disambiguate the duplicated columns
    * (SURVEY §7.4.4) — and a ProximityMedian fallback for
    * station-months whose median is null (ipynb c16:150-153).
    *
    * Scale: the month window partitions by station first, so it reuses
    * the station partitioning of the fallback chain's windows. */
  def seasonalMedian(df: DataFrame, column: String,
      initialNumDays: Int = 7, maxDays: Int = 31): (DataFrame, Accounting) =
    one(run(df, Seq(Seasonal(column, initialNumDays, maxDays))), column)

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

  /** Apply strategies in order, threading one DataFrame through
    * (ipynb c18:1-2), collecting per-stage accounting. Each maximal
    * run of strategies on distinct columns is one plan; a column named
    * again starts the next run, so it sees the earlier strategy's
    * output. */
  def applyAll(df: DataFrame,
      strategies: Seq[Strategy] = referenceStrategies): (DataFrame, Map[String, Accounting]) = {
    val runs = strategies.foldLeft(Vector.empty[Vector[Strategy]]) {
      case (done :+ last, st) if !last.exists(_.column == st.column) => done :+ (last :+ st)
      case (done, st) => done :+ Vector(st)
    }
    runs.foldLeft((df, Map.empty[String, Accounting])) { case ((cur, acc), r) =>
      val (next, a, _) = run(cur, r)
      (next, acc ++ a)
    }
  }

  /** The ±k widening of `column`, read from `stages.head`: the steps
    * `ks`, each filling only what the stage before it left null. */
  private final case class Chain(column: String, source: String, ks: Seq[Int], fallback: String) {
    val stages: Seq[String] = source +: ks.map(k => s"${column}__proximity$k")
  }

  private def schedule(initialNumDays: Int, maxDays: Int): Seq[Int] = {
    require(initialNumDays > 0, s"initialNumDays must be positive, got $initialNumDays")
    Iterator.iterate(initialNumDays.toLong)(_ * 2).takeWhile(_ <= maxDays).map(_.toInt).toSeq
  }

  /** One run of strategies on distinct columns as one plan (see the
    * object doc). Proximity chains and station medians partition by
    * `partitionCols`; seasonal months by `stn` and `date`. Returns the
    * frame, each column's accounting, and each column's null count
    * before the run (Zero columns are not counted). */
  private[gsod] def run(df: DataFrame, strategies: Seq[Strategy],
      partitionCols: Seq[String] = Seq("stn"), orderCols: Seq[String] = Seq("date"),
      float32Parity: Boolean = false): (DataFrame, Map[String, Accounting], Map[String, Long]) = {
    val filled = strategies.collect { case Zero(c) => c }.foldLeft(df)(zeroFill)
    def seasonal(c: String) = s"${c}__seasonal"
    def station(c: String) = s"${c}__station"
    val chains = strategies.collect {
      case Proximity(c, i, m, f) => Chain(c, c, schedule(i, m), f)
      case Seasonal(c, i, m) => Chain(c, seasonal(c), schedule(i, m), "median")
    }
    val medians = strategies.collect {
      case Seasonal(c, _, _) => seasonal(c) ->
        when(col(c).isNull, median(col(c)).over(Window.partitionBy(col("stn"), month(col("date"))))).otherwise(col(c))
      case StationMedian(c) => station(c) -> median(col(c)).over(Window.partitionBy(partitionCols.map(col): _*))
    }
    val stationCols = strategies.collect { case StationMedian(c) => c }
    val counted = (strategies.filterNot(_.isInstanceOf[Zero]).map(_.column) ++ chains.flatMap(_.stages)).distinct
    if (counted.isEmpty) return (filled, strategies.map(_.column -> Seq("zero-fill" -> 0L)).toMap, Map.empty)
    val w = Window.partitionBy(partitionCols.map(col): _*).orderBy(orderCols.map(col): _*)
    val stepped = (0 until chains.map(_.ks.size).maxOption.getOrElse(0)).foldLeft(filled.withColumns(medians.toMap)) {
      (cur, i) => cur.withColumns(chains.filter(_.ks.size > i).map { ch =>
        val prev = col(ch.stages(i))
        ch.stages(i + 1) -> when(prev.isNull, avg(prev).over(w.rowsBetween(-ch.ks(i), ch.ks(i)))).otherwise(prev)
      }.toMap)
    }
    // The count reads every chain step, so it computes the windows: the
    // frame is cut there, and the fallback and the answer read the cut.
    // Without chains (station medians and zero fills only) the count
    // reads only the run's own columns, so the optimizer drops the
    // median windows from it: nothing is cut, and the windows run once,
    // in the answer's plan.
    if (chains.nonEmpty) stepped.persist(StorageLevel.MEMORY_AND_DISK)
    val stats = stepped
      .select(counted.map(c => count(when(col(c).isNull, 1))) ++ stationCols.map(c => median(col(c))): _*).head()
    val nulls = counted.zipWithIndex.map { case (c, i) => c -> stats.getLong(i) }.toMap
    // an entirely-null column has no median to impute from
    val globalMedian = stationCols.zipWithIndex.collect {
      case (c, i) if !stats.isNullAt(counted.size + i) => c -> stats.getDouble(counted.size + i)
    }.toMap
    // The scalar fallback: the Greenwald–Khanna approx median of the
    // non-null values (ipynb c16:96, relativeError 0.001), or their mean,
    // for the stalled chains only, one pass each over the cached frame.
    // An entirely-null column leaves nothing to compute it from
    // (approxQuantile returns an empty array, avg returns null); its
    // accounting records the stall instead of crashing the job.
    val (byMedian, byMean) = chains.filter(ch => nulls(ch.stages.last) > 0).partition(_.fallback == "median")
    val medianFills = if (byMedian.isEmpty) Nil else stepped.stat
      .approxQuantile(byMedian.map(_.stages.last).toArray, Array(0.5), 0.001).toSeq.map(_.headOption)
    val meanFills = if (byMean.isEmpty) Nil else stepped
      .select(byMean.map(ch => avg(col(ch.stages.last))): _*).head().toSeq.map(Option(_))
    val fallback = (byMedian ++ byMean).map(_.column).zip(medianFills ++ meanFills)
      .collect { case (c, Some(v: Double)) => c -> v }.toMap
    val answers = chains.map { ch =>
      val last = col(ch.stages.last)
      ch.column -> fallback.get(ch.column).fold(last)(v => when(last.isNull, lit(v)).otherwise(last))
    } ++ stationCols.filter(globalMedian.contains).map { c =>
      val fill = coalesce(col(station(c)), lit(globalMedian(c)))
      c -> when(col(c).isNull, if (float32Parity) fill.cast("float").cast("double") else fill).otherwise(col(c))
    }
    // a column without nulls keeps its own expression and nullability
    val out = stepped.withColumns(answers.filter { case (c, _) => nulls(c) > 0 }.toMap)
      .drop(medians.map(_._1) ++ chains.flatMap(_.stages.tail): _*)
    // A widening stage is recorded iff nulls remain before it: the
    // reference's loop condition (`missing > 0`), and its fallback
    // condition.
    def widening(ch: Chain): Accounting = {
      val counts = ch.stages.map(nulls) :+ (if (fallback.contains(ch.column)) 0L else nulls(ch.stages.last))
      val labels = ch.ks.map(k => s"proximity±$k") :+ s"fallback-${ch.fallback}"
      labels.zip(counts.tail).zip(counts).collect { case (stage, before) if before > 0 => stage }
    }
    val chainOf = chains.map(ch => ch.column -> ch).toMap
    (out, strategies.map {
      case Zero(c) => c -> Seq("zero-fill" -> 0L)
      case Proximity(c, _, _, _) => c -> widening(chainOf(c))
      case Seasonal(c, _, _) => c -> (("seasonal-median" -> nulls(seasonal(c))) +: widening(chainOf(c)))
      case StationMedian(c) => c -> Seq("station-median" -> (if (globalMedian.contains(c)) 0L else nulls(c)))
    }.toMap, nulls)
  }
}
