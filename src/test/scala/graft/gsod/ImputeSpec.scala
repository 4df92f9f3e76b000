package graft.gsod

import org.apache.spark.sql.functions._
import graft.SparkSpec

class CleanSpec extends SparkSpec {

  lazy val raw = Fixture.df(spark)
  lazy val cleaned = Clean.sentinelToNull(raw)

  test("sentinelToNull: planted sentinel counts become null counts") {
    val m = Clean.missingCountMap(cleaned, Seq("visib", "temp", "max", "prcp"))
    assert(m("visib") == 110 + 16)     // 010010 run + 010020 run
    assert(m("temp") == 40)            // 999990 all-sentinel
    assert(m("max") == 31)             // 010030 January
    assert(m("prcp") > 0)
  }

  test("sentinelToNull leaves non-sentinel values untouched") {
    val before = raw.filter(col("visib") =!= 999.9).agg(sum("visib")).head().getDouble(0)
    val after = cleaned.agg(sum("visib")).head().getDouble(0)
    assert(math.abs(before - after) < 1e-9)
  }

  test("missingCounts agrees with per-column filter counts, in one job") {
    val m = Clean.missingCountMap(cleaned)
    for (c <- Seq("visib", "temp", "max", "min", "wdsp")) {
      assert(m(c) == cleaned.filter(col(c).isNull).count(), s"column $c")
    }
  }
}

class ProximityMedianSpec extends SparkSpec {

  test("progressive widening freezes values filled at smaller k (SURVEY §7.4.2)") {
    // values: [10, null, null, null, 20], k=1 then k=2.
    // k=1: row1 -> avg(10)=10; row3 -> avg(20)=20; row2 frame all-null.
    // k=2 re-based: row2 -> avg(10,10,20,20)=15.
    // A naive single pass at k=2 would give row1 = avg(10,20) = 15 ≠ 10.
    val df = Fixture.tiny(spark, Seq[java.lang.Double](10.0, null, null, null, 20.0))
    val (out, acc) = Impute.proximityMedian(df, "v", initialNumDays = 1, maxDays = 2)
    val got = out.orderBy("date").collect().map(_.getDouble(2)).toSeq
    assert(got == Seq(10.0, 10.0, 15.0, 20.0, 20.0))
    assert(acc.map(_._1) == Seq("proximity±1", "proximity±2"))
    assert(acc.last._2 == 0)
  }

  test("ROWS frame, not calendar days: gap neighbors still used (SURVEY §7.4.1)") {
    // Rows are consecutive by position but we verify the fill uses
    // positional neighbors regardless of any date interpretation:
    // [5, null, 9] with k=1 -> middle = avg(5, 9) = 7.
    val df = Fixture.tiny(spark, Seq[java.lang.Double](5.0, null, 9.0))
    val (out, _) = Impute.proximityMedian(df, "v", 1, 1)
    assert(out.orderBy("date").collect().map(_.getDouble(2)).toSeq == Seq(5.0, 7.0, 9.0))
  }

  test("scalar fallback fires when widening exhausts maxDays") {
    // 9 nulls in the middle; k=1 fills only edges; k=2 > maxDays=1 → stop;
    // remaining nulls get the approx-median of surviving values.
    val df = Fixture.tiny(spark,
      Seq[java.lang.Double](2.0, null, null, null, null, null, 4.0))
    val (out, acc) = Impute.proximityMedian(df, "v", 1, 1, "median")
    val got = out.orderBy("date").collect().map(_.getDouble(2)).toSeq
    assert(!got.contains(null))
    assert(got.head == 2.0 && got.last == 4.0)
    assert(got(1) == 2.0 && got(5) == 4.0) // k=1 edge fills
    // middle three were filled by the scalar fallback — all equal
    assert(got(2) == got(3) && got(3) == got(4))
    assert(acc.exists(_._1.startsWith("fallback")))
    assert(acc.last._2 == 0)
  }

  test("scalar fallback builds on the cached last iteration, not a replay of the widening") {
    val df = Fixture.tiny(spark,
      Seq[java.lang.Double](2.0, null, null, null, null, null, 4.0))
    val (out, acc) = Impute.proximityMedian(df, "v", 1, 1, "median")
    assert(acc.map(_._1) == Seq("proximity±1", "fallback-median"))
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("InMemoryTableScan"), s"fallback output no longer reads the cache:\n$p")
  }

  test("mean fallback uses the global mean") {
    val df = Fixture.tiny(spark,
      Seq[java.lang.Double](2.0, null, null, null, null, null, 4.0))
    val (out, _) = Impute.proximityMedian(df, "v", 1, 1, "mean")
    val got = out.orderBy("date").collect().map(_.getDouble(2)).toSeq
    // after k=1: [2, 2, n, n, n, 4, 4]; mean of those = 3.0
    assert(got(3) == 3.0)
  }

  test("fixture: 110-null run exceeds ±28 widening and needs fallback") {
    val cleaned = Clean.sentinelToNull(Fixture.df(spark))
    val one = cleaned.filter(col("stn") === "010010")
    val (out, acc) = Impute.proximityMedian(one, "visib", 7, 30)
    assert(out.filter(col("visib").isNull).count() == 0)
    assert(acc.map(_._1) == Seq("proximity±7", "proximity±14", "proximity±28", "fallback-median"))
    // the middle of the 70-run cannot be reached even at ±28
    val after28 = acc(2)._2
    assert(after28 > 0, "some rows must remain for the fallback")
  }
}

class DegenerateInputSpec extends SparkSpec {

  test("all-null column: imputers degrade gracefully instead of crashing") {
    val df = Fixture.tiny(spark, Seq[java.lang.Double](null, null, null))
    val (p, pAcc) = Impute.proximityMedian(df, "v", 1, 1, "median")
    assert(p.filter(org.apache.spark.sql.functions.col("v").isNull).count() == 3)
    assert(pAcc.last._2 == 3, "accounting records the stall")
    val (m, mAcc) = Impute.proximityMedian(df, "v", 1, 1, "mean")
    assert(m.filter(org.apache.spark.sql.functions.col("v").isNull).count() == 3)
    val (st, stAcc) = Impute.medianImputer(df, "v")
    assert(st.filter(org.apache.spark.sql.functions.col("v").isNull).count() == 3)
    assert(stAcc == Seq("station-median" -> 3L))
  }
}

class SeasonalMedianSpec extends SparkSpec {

  test("per-(station, month) median fill with exact interpolated median") {
    // Station with Jan values [10, null, 30]: Jan median = 20.
    val df = Fixture.tiny(spark, Seq[java.lang.Double](10.0, null, 30.0))
    val (out, acc) = Impute.seasonalMedian(df, "v")
    assert(out.orderBy("date").collect().map(_.getDouble(2)).toSeq == Seq(10.0, 20.0, 30.0))
    assert(acc == Seq("seasonal-median" -> 0L))
  }

  test("all-null station-month falls through to proximity (ipynb c16:150-153)") {
    val cleaned = Clean.sentinelToNull(Fixture.df(spark))
    val one = cleaned.filter(col("stn") === "010030")
    val (out, acc) = Impute.seasonalMedian(one, "max")
    assert(out.filter(col("max").isNull).count() == 0)
    assert(acc.head._1 == "seasonal-median")
    assert(acc.head._2 == 31, "January nulls survive the seasonal join")
    assert(acc.exists(_._1.startsWith("proximity")))
  }
}

class MedianImputerSpec extends SparkSpec {

  test("station median fills; all-null station gets the global median") {
    val cleaned = Clean.sentinelToNull(Fixture.df(spark))
    val two = cleaned.filter(col("stn").isin("999990", "010010"))
    val globalMedian = two.agg(median(col("temp"))).head().getDouble(0)
    val (out, acc) = Impute.medianImputer(two, "temp")
    assert(out.filter(col("temp").isNull).count() == 0)
    assert(acc == Seq("station-median" -> 0L))
    // every 999990 row (all-null station) got the global median
    val vals = out.filter(col("stn") === "999990").select("temp")
      .distinct().collect().map(_.getDouble(0)).toSeq
    assert(vals == Seq(globalMedian))
    // 010010 temps untouched (no nulls there)
    val before = cleaned.filter(col("stn") === "010010").agg(sum("temp")).head().getDouble(0)
    val after = out.filter(col("stn") === "010010").agg(sum("temp")).head().getDouble(0)
    assert(math.abs(before - after) < 1e-9)
  }
}

class PipelineSpec extends SparkSpec {

  test("reference strategy dispatch leaves zero nulls in all target columns") {
    val cleaned = Clean.sentinelToNull(Fixture.df(spark))
    val (out, acc) = Impute.applyAll(cleaned)
    val targets = Impute.referenceStrategies.map(_.column)
    val m = Clean.missingCountMap(out, targets)
    assert(m.values.forall(_ == 0L), s"missing after pipeline: $m")
    assert(acc.keySet == targets.toSet)
    // zero-fill flips prcp non-nullable (ipynb c21:out, SURVEY §7.4.5)
    assert(!out.schema("prcp").nullable)
  }

  test("golden: exact per-stage fill accounting on the fixture (ipynb c18:out)") {
    // Pinned counts — any silent semantic drift in the widening loop,
    // the seasonal join, or the dispatch order changes one of these.
    // Derivation: visib = 010010's 110-run (±7/±14/±28 eat 49 rows off
    // each end, 12 survive to the fallback) + 010020's 16-run (±7
    // leaves 2, ±14 clears); wdsp = 010020's six isolated sentinels,
    // cleared at ±7; mxpsd has no planted nulls (loop never runs);
    // max = 010030's 31 January nulls surviving the seasonal join, then
    // proximity fills 7/14/10 from the February side.
    val cleaned = Clean.sentinelToNull(Fixture.df(spark))
    val (_, acc) = Impute.applyAll(cleaned)
    assert(acc("visib") == Seq("proximity±7" -> 98L, "proximity±14" -> 68L,
      "proximity±28" -> 12L, "fallback-median" -> 0L))
    assert(acc("wdsp") == Seq("proximity±7" -> 0L))
    assert(acc("mxpsd") == Seq.empty)
    assert(acc("prcp") == Seq("zero-fill" -> 0L))
    assert(acc("max") == Seq("seasonal-median" -> 31L, "proximity±7" -> 24L,
      "proximity±14" -> 10L, "proximity±28" -> 0L))
    assert(acc("min") == Seq("seasonal-median" -> 0L))
  }

  test("imputation accounting is monotone non-increasing per stage") {
    val cleaned = Clean.sentinelToNull(Fixture.df(spark))
    val (_, acc) = Impute.applyAll(cleaned)
    acc.values.foreach { stages =>
      val counts = stages.map(_._2)
      assert(counts == counts.sorted.reverse, s"not monotone: $stages")
    }
  }
}

class StatsSpec extends SparkSpec {

  test("describe computes mean/stddev/median/mode/distinct in one pass") {
    val cleaned = Clean.sentinelToNull(Fixture.df(spark))
    val prof = Stats.describe(cleaned, Seq("temp", "visib", "max"))
      .collect().map(r => r.getString(0) -> r).toMap
    val t = prof("temp")
    val exp = cleaned.agg(
      avg("temp"), stddev("temp"), median(col("temp")), countDistinct("temp")).head()
    assert(math.abs(t.getDouble(1) - exp.getDouble(0)) < 1e-9)
    assert(math.abs(t.getDouble(2) - exp.getDouble(1)) < 1e-9)
    assert(math.abs(t.getDouble(3) - exp.getDouble(2)) < 1e-9)
    assert(t.getLong(5) == exp.getLong(3))
  }
}
