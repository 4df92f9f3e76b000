package graft.gsod

import java.time.LocalDate
import org.apache.spark.JobCount
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.SparkSpec
import graft.bench.GsodBench
import Impute._

class ImputeBatchSpec extends SparkSpec {

  /** Two stations, 40 days from 20 January, one column per widening
    * outcome under the ±1/±2/±4 schedule: `a` done at ±1, `b` at ±2,
    * `c` never null (and declared non-nullable), `d` a 30-day run that
    * reaches the scalar fallback, `e` entirely null (the fallback
    * stalls), `f` with station A's January entirely null. */
  lazy val frame: DataFrame = {
    val base = LocalDate.of(2023, 1, 20)
    def v(i: Int, stn: Int): java.lang.Double = ((i * 7 + stn * 3) % 11).toDouble
    val rows = for (stn <- Seq(0, 1); i <- 0 until 40) yield Row(
      s"00000$stn", java.sql.Date.valueOf(base.plusDays(i)),
      if (stn == 0 && (i == 5 || i == 20)) null else v(i, stn),
      if (stn == 0 && i >= 10 && i <= 14) null else v(i + 1, stn),
      v(i + 2, stn),
      if (stn == 1 && i >= 5 && i < 35) null else v(i + 3, stn),
      null,
      if (stn == 0 && i < 12) null else v(i + 4, stn))
    val nullable = Seq("a", "b", "d", "e", "f").map(StructField(_, DoubleType, nullable = true))
    val sch = StructType(Seq(StructField("stn", StringType, nullable = false),
      StructField("date", DateType, nullable = false)) ++ nullable.take(2) ++
      Seq(StructField("c", DoubleType, nullable = false)) ++ nullable.drop(2))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), sch)
  }

  /** The reference's one-column-at-a-time dispatch, through the
    * single-column entry points. */
  private def folded(df: DataFrame, strategies: Seq[Strategy]): (DataFrame, Map[String, Accounting]) =
    strategies.foldLeft((df, Map.empty[String, Accounting])) { case ((cur, acc), st) =>
      val (next, a) = st match {
        case Proximity(c, i, m, f) => proximityMedian(cur, c, i, m, f)
        case Seasonal(c, i, m) => seasonalMedian(cur, c, i, m)
        case StationMedian(c) => medianImputer(cur, c)
        case Zero(c) => (zeroFill(cur, c), Seq("zero-fill" -> 0L))
      }
      (next, acc + (st.column -> a))
    }

  private def assertSameAsFold(strategies: Seq[Strategy]): Map[String, Accounting] = {
    val (batched, acc) = applyAll(frame, strategies)
    val (one, oneAcc) = folded(frame, strategies)
    assert(acc == oneAcc)
    assert(batched.schema == one.schema, "schema, nullability or column order differ")
    assert(batched.columns.toSeq == frame.columns.toSeq, "a step column leaked into the output")
    assert(batched.exceptAll(one).count() == 0 && one.exceptAll(batched).count() == 0)
    acc
  }

  test("adjacent Proximity strategies run as one batch with the single-column fold's frame and accounting") {
    Seq("median", "mean").foreach { fb =>
      val acc = assertSameAsFold(Seq("a", "b", "c", "d", "e", "f").map(Proximity(_, 1, 4, fb)))
      assert(acc("a") == Seq("proximity±1" -> 0L))
      assert(acc("b").map(_._1) == Seq("proximity±1", "proximity±2") && acc("b").last._2 == 0)
      assert(acc("c") == Seq.empty)
      assert(acc("d").map(_._1) == Seq("proximity±1", "proximity±2", "proximity±4", s"fallback-$fb"))
      assert(acc("d").last._2 == 0)
      assert(acc("e").last == (s"fallback-$fb" -> 80L), "an all-null column records the stall")
    }
  }

  test("a column named in two adjacent strategies is not merged into one batch") {
    val acc = assertSameAsFold(Seq(Proximity("d", 1, 4), Proximity("a", 1, 4), Proximity("d", 1, 4)))
    assert(acc("d") == Seq.empty, "the second pass sees the first pass's output")
  }

  test("Seasonal and StationMedian batches match their single-column folds") {
    val acc = assertSameAsFold(Seq("a", "d", "e", "f").map(Seasonal(_, 1, 4)))
    assert(acc("f").head == ("seasonal-median" -> 12L) && acc("f").last == ("fallback-median" -> 0L))
    assertSameAsFold(Seq("a", "c", "e", "f").map(StationMedian(_)) :+ Zero("b") :+ Zero("d"))
  }

  test("station-median accounting, read from the stats row, equals the counted nulls after the fill") {
    val cleaned = Clean.sentinelToNull(Fixture.df(spark))
    val fixtureCols = cleaned.schema.fields.collect { case f if f.dataType == DoubleType => f.name }.toSeq
    // `frame`'s `e` is entirely null: no median to fill from, so it keeps its count
    Seq(cleaned -> fixtureCols, frame -> Seq("a", "b", "c", "d", "e", "f")).foreach { case (df, cols) =>
      val (out, acc) = applyAll(df, cols.map(StationMedian(_)))
      val counted = Clean.missingCountMap(out, cols)
      assert(acc == cols.map(c => c -> Seq("station-median" -> counted(c))).toMap)
    }
    assert(applyAll(frame, Seq(StationMedian("e")))._2("e") == Seq("station-median" -> 80L))
  }

  test("a non-positive initial window is rejected, not widened forever") {
    val df = Fixture.tiny(spark, Seq[java.lang.Double](1.0, null, 3.0))
    Seq(0, -1).foreach { k =>
      intercept[IllegalArgumentException](proximityMedian(df, "v", initialNumDays = k, maxDays = 4))
    }
  }

  test("prepare starts at most 18 Spark jobs (prepare + one noop write): one batch per strategy kind") {
    // Each strategy once per column, with a persist and count per ±k
    // step, started 36 jobs here; the chained-step batches start 12.
    val raw = GsodBench.generate(spark, 20, 365)
    val jobs = JobCount(spark.sparkContext, "prepare-job-count") {
      GsodPipeline.prepare(raw)._1.write.format("noop").mode("overwrite").save()
    }
    assert(jobs > 0 && jobs <= 18, s"prepare jobs: $jobs")
  }
}
