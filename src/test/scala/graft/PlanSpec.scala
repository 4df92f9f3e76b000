package graft

import graft.queries.{CoreQueries, JoinQueries}

/** Physical-plan assertions (SURVEY.md §4 / the 100 TB contract):
  * filters and projections must reach the parquet scan, small join
  * sides must broadcast, sort+limit must become TakeOrderedAndProject,
  * and the hot paths must stay inside whole-stage codegen. A plan
  * regression here is a performance bug even while results stay
  * correct — these specs make `.explain` part of the test suite.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("scan+filter: predicates pushed to parquet, schema pruned") {
    val p = plan(CoreQueries.qScanFilter(spark, sf001))
    assert(p.contains("PushedFilters:") && p.contains("GreaterThan(l_discount"),
      s"filter not pushed:\n$p")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_extendedprice:double,l_discount:double>"),
      s"schema not pruned:\n$p")
  }

  test("median-fill join broadcasts the derived median table") {
    val p = plan(JoinQueries.qJoinMedianFill(spark, sf001))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected SMJ:\n$p")
  }

  test("star join: dimension chain broadcasts, no cartesian anywhere") {
    val p = plan(JoinQueries.qJoinRevenueByNation(spark, sf001))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("top-k compiles to TakeOrderedAndProject (no global sort)") {
    val p = plan(CoreQueries.qTopK(spark, sf001))
    assert(p.contains("TakeOrderedAndProject"), s"top-k not optimized:\n$p")
  }

  test("q1 aggregate: partial (map-side) aggregation before the shuffle") {
    val df = CoreQueries.q1Agg(spark, sf001)
    val p = plan(df)
    assert(p.contains("partial_sum"), s"no partial aggregation:\n$p")
    // AQE's pre-execution plan string hides codegen wrapping — ask for
    // the codegen explain explicitly
    val cg = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(cg.contains("WholeStageCodegen"), s"not codegen'd:\n$cg")
  }

  test("null probe is a single aggregate over one scan (no joins/windows)") {
    val p = plan(CoreQueries.qNullProbe(spark, sf001))
    assert(!p.contains("Join") && !p.contains("Window"))
    assert(p.contains("HashAggregate"))
  }

  test("skew diagnostics: TakeOrdered top-10, totals broadcast, no cartesian blow-up") {
    val p = plan(graft.queries.ExtraQueries.qSkewDiagnostics(spark, sf001))
    assert(p.contains("TakeOrderedAndProject"), s"top-10 not TakeOrdered:\n$p")
    // the 1-row totals attach must be a broadcast nested loop over ONE
    // row, never a shuffled/cartesian join of the counts table
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"totals not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in plan:\n$p")
  }

  test("span dedup: one grouped aggregation with map-side partials, no join") {
    val p = plan(graft.queries.DedupQueries.qSpanDedup(spark, sf001))
    assert(!p.contains("Join"), s"unexpected join:\n$p")
    assert(p.contains("partial_count"), s"no map-side partial agg:\n$p")
  }

  test("pit join: interval predicate reduced to window composition — no range nested-loop") {
    // the SCD2 interval predicate (from <= t < to) would plan as a
    // BroadcastNestedLoopJoin if written as a range join; the as-of
    // reduction must keep the plan to union + window
    val p = plan(graft.queries.ExtraQueries.qPitJoin(spark, sf001))
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"range nested-loop leaked into the PIT join:\n$p")
    assert(p.contains("Window"), s"as-of window composition missing:\n$p")
    assert(p.contains("Union"), s"union tagging missing:\n$p")
  }

  test("median histogram: the row stream is never globally sorted — only the distinct-value frame") {
    val df = CoreQueries.qMedianHistogram(spark, sf001)
    val p = plan(df)
    // the aggregate over raw n_chars must come BEFORE any Sort: the
    // only Sort in the plan feeds the window over the histogram frame
    // (post-aggregate), so every Sort node must sit above a
    // HashAggregate in the operator chain — equivalently, no Sort may
    // read the parquet scan directly
    val lines = p.linesIterator.toSeq
    val scanDepths = lines.filter(_.contains("Scan parquet")).map(_.indexOf("Scan"))
    assert(scanDepths.nonEmpty)
    lines.sliding(2).foreach {
      case Seq(a, b) =>
        if (b.contains("Scan parquet") && a.contains("Sort"))
          fail(s"Sort directly over the row scan:\n$p")
      case _ => ()
    }
    assert(p.contains("HashAggregate"), s"no histogram aggregate:\n$p")
  }

  test("time folds: one scan with bounded generate fan-out, no per-fold rescans") {
    val p = plan(graft.queries.AnalyticsQueries.qTimeFolds(spark, sf001))
    // one corpus scan + one 1-row bounds scan — a per-fold union would
    // read the events parquet 3 times (ReusedExchange acceptable)
    val scans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("events"))
    assert(scans <= 2, s"per-fold rescans of events ($scans):\n$p")
    assert(p.contains("Generate"), s"array-filter explode missing:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("temperature mix: per-source quotas broadcast, single window on source") {
    val p = plan(graft.queries.ExtraQueries.qDomainMixTemperature(spark, sf001))
    assert(p.contains("BroadcastHashJoin"), s"quota join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus-side SMJ for tiny quotas:\n$p")
    assert(p.contains("Window"), s"per-source rank window missing:\n$p")
  }

  test("weighted sample compiles to TakeOrderedAndProject (no global sort)") {
    val p = plan(graft.queries.ExtraQueries.qSampleWeighted(spark, sf001))
    assert(p.contains("TakeOrderedAndProject"), s"weighted top-k not heap-based:\n$p")
  }

  test("window dist: no single-task whole-group sort — the row-stream window is bucketed") {
    // o_orderpriority has 5 values; a naive PARTITION BY o_orderpriority
    // percent_rank/cume_dist window would sort N/5 rows per task. The
    // derived form must (a) never invoke percent_rank/cume_dist window
    // functions and (b) run its only row-stream window under the
    // compound (group, _bucket) partition spec.
    val p = plan(graft.queries.WindowQueries.qWindowDist(spark, sf001))
    assert(!p.contains("percent_rank") && !p.contains("cume_dist"),
      s"naive relative-rank window resurfaced:\n$p")
    val windowLines = p.linesIterator.filter(_.contains("row_number()")).toSeq
    assert(windowLines.nonEmpty, s"no bucketed ranking window in plan:\n$p")
    windowLines.foreach(l =>
      assert(l.contains("_bucket"), s"row-stream window not bucketed: $l"))
  }

  test("cdc apply: latest-change pick is an aggregate — no per-key window over the log") {
    val p = plan(graft.queries.ExtraQueries.qCdcApply(spark, sf001))
    assert(!p.contains("Window"), s"per-key window over the change log:\n$p")
    assert(p.contains("max_by") || p.contains("HashAggregate"),
      s"no aggregate collapse of the log:\n$p")
  }

  test("skyline: threshold from a per-x aggregate; the row stream is never globally sorted") {
    val p = plan(graft.queries.AnalyticsQueries.qSkyline(spark, sf001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"skyline planned as an all-pairs join:\n$p")
    // the only window runs over the per-distinct-date aggregate frame,
    // downstream of a HashAggregate — assert an aggregate exists and
    // the final orderBy is the ONLY sort of the full row stream
    assert(p.contains("HashAggregate"), s"no per-x pre-aggregate:\n$p")
  }

  test("event paths: corpus-wide cut is TakeOrderedAndProject, window partitions by user") {
    val p = plan(graft.queries.AnalyticsQueries.qEventPaths(spark, sf001))
    assert(p.contains("TakeOrderedAndProject"), s"top-k not heap-based:\n$p")
    assert(p.contains("user_id"), s"lead window must partition by user_id:\n$p")
  }

  test("salted join: no broadcast-nested-loop, no cartesian; build replicated via Generate") {
    val p = plan(graft.queries.ExtraQueries.qSaltedJoin(spark, sf001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
    assert(p.contains("Generate"), s"build replication must be an in-row explode:\n$p")
  }

  test("customer returns (Q10): flag filter pushed to parquet, dimensions broadcast, TakeOrdered cut") {
    val p = plan(JoinQueries.qCustomerReturns(spark, sf001))
    assert(p.contains("PushedFilters") && p.contains("EqualTo(l_returnflag,R)"),
      s"returnflag not pushed to the scan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"dimension star must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-20 must be heap-based:\n$p")
  }

  test("nation volume (Q7): dual dimension chains both broadcast, no cartesian") {
    val p = plan(JoinQueries.qNationVolume(spark, sf001))
    // the nation table joins twice (supplier-side and customer-side) —
    // both hops plus supplier and customer must be broadcast exchanges
    val nBroadcast = p.linesIterator.count(_.contains("BroadcastExchange"))
    assert(nBroadcast >= 4, s"expected ≥4 broadcast dimension hops, got $nBroadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("supplier wait (Q21): ONE fact scan (window rewrite, not EXISTS self-joins), dims broadcast, TakeOrdered cut") {
    val p = plan(JoinQueries.qSupplierWait(spark, sf001))
    val liScans = p.linesIterator.count(_.contains("lineitem.parquet"))
    assert(liScans == 1,
      s"the multi-EXISTS chain must collapse to one lineitem scan, got $liScans:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"supplier/nation must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-20 must be heap-based:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("Q2/Q15/Q18 shapes: each scans the fact table at most once (no branch rescan)") {
    // Q15's revenue view is localCheckpoint'd (shared-subframe
    // discipline), so its FINAL plan shows ZERO fact scans — the one
    // scan happened at materialization; Q2/Q18 keep theirs in-plan
    Seq("Q2" -> JoinQueries.qCheapestSupplier(spark, sf001),
        "Q15" -> JoinQueries.qTopSupplierRevenue(spark, sf001),
        "Q18" -> JoinQueries.qBigOrders(spark, sf001)).foreach { case (n, df) =>
      val p = plan(df)
      val liScans = p.linesIterator.count(_.contains("lineitem.parquet"))
      assert(liScans <= 1, s"$n: expected at most one lineitem scan, got $liScans:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), n)
    }
  }

  test("Q8/Q14/Q17/Q19 shapes: one fact scan each, dimensions broadcast, no cartesian") {
    Seq("Q8" -> JoinQueries.qMarketShare(spark, sf001),
        "Q14" -> JoinQueries.qPromoShare(spark, sf001),
        "Q17" -> JoinQueries.qSmallQtyRevenue(spark, sf001),
        "Q19" -> JoinQueries.qBandedRevenue(spark, sf001)).foreach { case (n, df) =>
      val p = plan(df)
      val liScans = p.linesIterator.count(_.contains("lineitem.parquet"))
      assert(liScans == 1, s"$n: expected exactly one lineitem scan, got $liScans:\n$p")
      assert(p.contains("BroadcastHashJoin"), s"$n: no broadcast join:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), n)
    }
    // Q17's per-part profile must be the window, not a second scan or
    // a fact-fact SortMergeJoin (the textbook correlated-subquery plan)
    val q17 = plan(JoinQueries.qSmallQtyRevenue(spark, sf001))
    assert(q17.contains("Window"), s"Q17: expected the one-scan window profile:\n$q17")
  }

  test("partsupp shapes Q9/Q11/Q16/Q20: bounded fact scans, derived partsupp broadcasts, no cartesian") {
    // Q9/Q20 touch lineitem exactly once; Q11/Q16 are dim-only (zero
    // fact scans — partsupp derives from the part scan). The only
    // nested-loop anywhere is the broadcast 1-row cross (the
    // |supplier| count entering the stride formula, Q11's totals) —
    // never a data-proportional cartesian.
    import graft.queries.PartsuppQueries
    Seq(("Q9", PartsuppQueries.qProfitByNation(spark, sf001), 1),
        ("Q11", PartsuppQueries.qImportantStock(spark, sf001), 0),
        ("Q16", PartsuppQueries.qSupplierRelationship(spark, sf001), 0),
        ("Q20", PartsuppQueries.qPromoCandidates(spark, sf001), 1))
      .foreach { case (n, df, want) =>
        val p = plan(df)
        val liScans = p.linesIterator.count(_.contains("lineitem.parquet"))
        assert(liScans == want,
          s"$n: expected $want lineitem scan(s), got $liScans:\n$p")
        assert(p.contains("BroadcastHashJoin"), s"$n: no broadcast join:\n$p")
        assert(!p.contains("CartesianProduct"), s"$n: cartesian:\n$p")
        p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin"))
          .foreach(l => assert(l.contains("Cross"),
            s"$n: non-cross nested loop:\n$l"))
      }
  }

  test("fuzzy entity resolution: blocked equi-join broadcasts the dictionary, no cartesian, arg-max is an aggregate") {
    val p = plan(graft.queries.ExtraQueries.qEntityResolution(spark, sf001))
    assert(p.contains("BroadcastHashJoin"), s"dictionary not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"fuzzy join planned all-pairs:\n$p")
    assert(!p.contains("Window"), s"best-match pick must be an aggregate:\n$p")
    assert(p.contains("jaro_winkler"), s"native JW verify missing:\n$p")
  }

  test("fuzzy join size guard: an over-threshold dictionary is NEVER forced through a broadcast (r15 weak)") {
    import org.apache.spark.sql.functions._
    // same fixture as qEntityResolution, but with the broadcast cap
    // below the dictionary size: the hint must vanish and the plan
    // fall back to a shuffled equi-join on blk (AQE may still promote
    // a byte-small side at RUNTIME — assert on the pre-AQE initial
    // plan, where only the explicit hint can produce a broadcast).
    val dict = Tables.part(spark, sf001)
      .select(col("p_partkey"),
        concat(col("p_name"), lit(" "), col("p_type")).as("name"))
      .groupBy(col("name")).agg(min(col("p_partkey")).as("id"))
      .select(col("id"), col("name"))
      .localCheckpoint(true)
    val dirty = dict.select((col("id") + 1000000L).as("id"), col("name"))
    // isolate the HINT from Catalyst's own size-based promotion: with
    // auto-broadcast off, only an explicit hint can produce a
    // BroadcastHashJoin — at real scale the same separation happens
    // via stats (a 50M-row dictionary is far above the threshold)
    val guarded = withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val g = graft.ops.FuzzyJoin.resolve(dirty, dict,
        blockPrefix = 4, threshold = 0.9, broadcastMaxRows = 1L)
      val init = g.queryExecution.sparkPlan.toString
      assert(!init.contains("BroadcastHashJoin") && !init.contains("BroadcastExchange"),
        s"over-cap dictionary still broadcast in the initial plan:\n$init")
      assert(init.contains("SortMergeJoin") || init.contains("ShuffledHashJoin"),
        s"expected a shuffled equi-join fallback:\n$init")
      // under-cap keeps the map-side plan even with auto-broadcast off
      val h = graft.ops.FuzzyJoin.resolve(dirty, dict,
        blockPrefix = 4, threshold = 0.9)
      assert(h.queryExecution.sparkPlan.toString.contains("BroadcastHashJoin"),
        "under-cap dictionary lost its broadcast hint")
      g.collect().toSet
    }
    // and the guarded path returns the same matches as the hinted one
    val hinted = graft.ops.FuzzyJoin.resolve(dirty, dict,
      blockPrefix = 4, threshold = 0.9)
    assert(hinted.collect().toSet == guarded,
      "guarded and broadcast plans disagree on the match set")
  }

  test("custdist (Q13): both aggregations partial (map-side combine before each shuffle)") {
    val p = plan(JoinQueries.qCustdist(spark, sf001))
    // partial_count markers appear for both the per-customer count and
    // the count-of-counts histogram
    val partials = p.linesIterator.count(l =>
      l.contains("partial_count") || l.contains("partial count"))
    assert(partials >= 2, s"expected two partial-aggregated stages:\n$p")
  }

  test("gsod prepare: imputation re-attaches no aggregate — the prepared frame's plan has no Join") {
    val prepared = graft.gsod.GsodPipeline.prepare(graft.gsod.Fixture.df(spark))._1
    val joins = prepared.queryExecution.analyzed.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j.joinType
    }
    assert(joins.isEmpty, s"self-joins in the prepared frame's lineage: $joins")
  }
}
