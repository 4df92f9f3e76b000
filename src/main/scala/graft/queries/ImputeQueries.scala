package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.gsod.Impute

/** The reference's composite imputation operators (SURVEY.md §2.12)
  * exercised end-to-end over the harness `events` table, with derived
  * nulls (value of 'error' events treated as missing — the harness
  * tables themselves carry no nulls).
  *
  * These queries call the [[graft.gsod.Impute]] production operators
  * directly, so the driver's DuckDB oracle checks the actual imputer
  * implementation, not a reimplementation.
  */
object ImputeQueries {

  private def cleanedEvents(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("v",
        when(col("event_type") === lit("error"), lit(null)).otherwise(col("value")))
      .select(col("event_id"), col("user_id"), col("ts"), col("v"))

  /** ProximityMedian (ipynb c16:60-113) over per-user event sequences:
    * one ±7 ROWS pass, then global-mean scalar fallback — both stages
    * SQL-expressible, so the oracle checks the full control flow. */
  def qImputeProximity(s: SparkSession, d: String): DataFrame = {
    val (out, _) = Impute.proximityMedian(
      cleanedEvents(s, d), "v",
      initialNumDays = 7, maxDays = 7, fallbackStrategy = "mean",
      partitionCols = Seq("user_id"), orderCols = Seq("ts", "event_id"))
    out.select(col("event_id"), col("user_id"), col("v").as("v_imputed"))
      .orderBy(col("event_id"))
  }

  val qImputeProximitySql: String =
    """WITH cleaned AS (
      |  SELECT event_id, user_id, ts,
      |    CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
      |  FROM events
      |), p1 AS (
      |  SELECT event_id, user_id,
      |    CASE WHEN v IS NULL THEN
      |      avg(v) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                   ROWS BETWEEN 7 PRECEDING AND 7 FOLLOWING)
      |    ELSE v END AS v
      |  FROM cleaned
      |)
      |SELECT event_id, user_id,
      |  coalesce(v, (SELECT avg(v) FROM p1)) AS v_imputed
      |FROM p1
      |ORDER BY event_id""".stripMargin

  /** MedianImputer (ipynb c16:1-55) over per-user groups: fill with the
    * user's median, global median for all-null users — as a per-user
    * window median + coalesce, not the reference's driver dict + Python
    * UDF (SURVEY §2.9 X3). */
  def qImputeStationMedian(s: SparkSession, d: String): DataFrame = {
    val (out, _) = Impute.medianImputer(cleanedEvents(s, d), "v", keyCol = "user_id")
    out.select(col("event_id"), col("user_id"), col("v").as("v_imputed"))
      .orderBy(col("event_id"))
  }

  val qImputeStationMedianSql: String =
    """WITH cleaned AS (
      |  SELECT event_id, user_id,
      |    CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
      |  FROM events
      |), gm AS (SELECT median(v) AS g FROM cleaned),
      |um AS (SELECT user_id, median(v) AS m FROM cleaned GROUP BY user_id)
      |SELECT c.event_id, c.user_id,
      |  CASE WHEN c.v IS NULL THEN coalesce(um.m, gm.g) ELSE c.v END AS v_imputed
      |FROM cleaned c
      |LEFT JOIN um USING (user_id)
      |CROSS JOIN gm
      |ORDER BY c.event_id""".stripMargin

  /** The reference's informal goldens as a driver-visible oracle row:
    * the printed missing-count table after sentinel-nulling (ipynb
    * c8:out), the per-stage imputation accounting (ipynb c18:out), and
    * the zero-missing-after-imputation check (ipynb c20:out) — the
    * BASELINE.md "Data-shape checkpoints" — replayed over the
    * deterministic [[graft.gsod.Fixture]] (same pipeline, fixture-sized
    * numbers; `sfDir` is unused because the fixture is self-contained).
    * Every number is deterministic (exact medians, fixed widening
    * order), so the DuckDB twin is the literal expected frame and the
    * driver's hash gate pins the whole clean→impute control flow; the
    * golden ImputeSpec cases pin the same numbers in-repo.
    *
    * The accounting values are "missing remaining after stage" — the
    * reference's printed semantics. Driver-side assembly is a handful
    * of counted scalars (the accounting IS a printed scalar table in
    * the reference), not a collect of data rows. */
  def qGsodAccounting(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cleaned = graft.gsod.Clean.sentinelToNull(graft.gsod.Fixture.df(s))
    val cols = Seq("temp", "visib", "wdsp", "mxpsd", "max", "min", "prcp")
    val missing = graft.gsod.Clean.missingCountMap(cleaned, cols)
    val (out, acc) = Impute.applyAll(cleaned)
    val targets = Impute.referenceStrategies.map(_.column)
    val after = graft.gsod.Clean.missingCountMap(out, targets)
    val rows =
      cols.map(c => (s"missing_after_sentinel:$c", missing(c))) ++
      targets.flatMap(c => acc(c).map { case (stage, n) => (s"impute:$c:$stage", n) }) ++
      Seq(("missing_after_impute:total", after.values.sum))
    rows.toDF("metric", "value").orderBy(col("metric"))
  }

  val qGsodAccountingSql: String =
    // literal golden frame (deterministic fixture ⇒ deterministic
    // accounting); values mirror ImputeSpec's golden case
    """SELECT metric, CAST(value AS BIGINT) AS value FROM (VALUES
      |  ('missing_after_sentinel:temp', 40),
      |  ('missing_after_sentinel:visib', 126),
      |  ('missing_after_sentinel:wdsp', 6),
      |  ('missing_after_sentinel:mxpsd', 0),
      |  ('missing_after_sentinel:max', 31),
      |  ('missing_after_sentinel:min', 0),
      |  ('missing_after_sentinel:prcp', 20),
      |  ('impute:visib:proximity±7', 98),
      |  ('impute:visib:proximity±14', 68),
      |  ('impute:visib:proximity±28', 12),
      |  ('impute:visib:fallback-median', 0),
      |  ('impute:wdsp:proximity±7', 0),
      |  ('impute:prcp:zero-fill', 0),
      |  ('impute:max:seasonal-median', 31),
      |  ('impute:max:proximity±7', 24),
      |  ('impute:max:proximity±14', 10),
      |  ('impute:max:proximity±28', 0),
      |  ('impute:min:seasonal-median', 0),
      |  ('missing_after_impute:total', 0)) t(metric, value)
      |ORDER BY metric""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_impute_proximity" -> (qImputeProximity _),
    "q_impute_station_median" -> (qImputeStationMedian _),
    "q_gsod_accounting" -> (qGsodAccounting _))

  val oracles: Map[String, String] = Map(
    "q_impute_proximity" -> qImputeProximitySql,
    "q_impute_station_median" -> qImputeStationMedianSql,
    "q_gsod_accounting" -> qGsodAccountingSql)
}
