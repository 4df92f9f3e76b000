package graft.text

import org.apache.spark.JobCount
import org.apache.spark.sql.{CachedEntries, DataFrame}
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.bench.ExplainDump
import graft.queries.DedupQueries

class CurationSpec extends SparkSpec {

  import spark.implicits._

  test("pipeline stages: verbatim dup dies at exact stage, near-dup at cluster stage") {
    // base doc (high quality), verbatim copy, near-dup copy, junk doc
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and it is a fine day in the park today ok"),
      (2L, "the quick brown fox jumps over the lazy dog and it is a fine day in the park today ok"),
      (3L, "quick brown fox jumps over the lazy dog and it is a fine day in the park today ok"),
      (4L, "!!! ### $$$"))
      .toDF("doc_id", "text")
    val r = Curation.curate(docs, minQuality = 0.5, minJaccard = 0.8)
    val survived = r.survivors.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survived == Set(1L), s"survivors: $survived")
    assert(r.accounting == Seq(
      "input" -> 4L,       // all four documents
      "quality" -> 3L,     // junk filtered
      "exact-dedup" -> 2L, // verbatim copy collapsed onto doc 1
      "near-dedup" -> 1L)) // near-dup copy clustered with doc 1, dropped
  }

  test("incremental curate == from-scratch sketch curate restricted to the delta") {
    // day 1: curate the base documents, emit state
    val history = graft.Tables.documents(spark, sf001)
      .select(col("doc_id"), col("text"))
    val minQ = DedupQueries.CurationMinQuality
    val day1 = Curation.curateSketch(history, minQ, withAccounting = false)
    // day 2 delta: verbatim re-ingests (die at exact), perturbed copies
    // (die at near-dup vs history), and the perturbed copies AGAIN at
    // higher ids (within-delta clusters — min id survives only if the
    // history link also misses)
    val off = DedupQueries.IdOffset
    val perturbed = history.select((col("doc_id") + 2 * off).as("doc_id"),
      concat_ws(" ", slice(Dedup.tokens(col("text")), 2, 100000)).as("text"))
    // token-reversed docs are genuinely new content and must survive
    val reversed = history.select((col("doc_id") + 4 * off).as("doc_id"),
      concat_ws(" ", reverse(Dedup.tokens(col("text")))).as("text"))
    val delta = history.select((col("doc_id") + off).as("doc_id"), col("text"))
      .union(perturbed)
      .union(perturbed.select((col("doc_id") + off).as("doc_id"), col("text")))
      .union(reversed)
    val inc = Curation.incrementalCurate(day1.state, delta, minQ,
      withAccounting = false)
    val incIds = inc.survivors.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(incIds.nonEmpty && incIds.forall(_ >= 4 * off),
      s"expected only reversed docs to survive, got ${incIds.take(5)}")
    // from-scratch twin over (day-1 survivors ∪ delta); history ids
    // precede delta ids, so batch min-id keepers agree with incremental
    val full = Curation.curateSketch(day1.survivors.union(delta), minQ,
      withAccounting = false)
    val fullDeltaIds = full.survivors.select("doc_id").collect()
      .map(_.getLong(0)).toSet.filter(_ >= off)
    assert(incIds == fullDeltaIds,
      s"only-inc=${(incIds -- fullDeltaIds).take(5)} only-full=${(fullDeltaIds -- incIds).take(5)}")
    // and the updated state covers exactly history ∪ delta survivors
    val stateIds = inc.state.sets.select("doc_id").collect().map(_.getLong(0)).toSet
    val day1Ids = day1.survivors.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(stateIds == day1Ids ++ incIds)
  }

  test("incremental keeper rule is id-order independent: a small-id delta near-dup of history still dies") {
    // history ids are LARGE; the delta re-ingests near-dups under
    // SMALLER ids — a min-label keeper rule would crown the delta doc
    // and publish duplicate content
    val history = Seq(
      (1000L, "the quick brown fox jumps over the lazy dog and it is a fine day in the park today ok"),
      (1001L, "completely different words describing a completely different topic in plain simple prose here"))
      .toDF("doc_id", "text")
    val day1 = Curation.curateSketch(history, minQuality = 0.5, withAccounting = false)
    val delta = Seq(
      (1L, "quick brown fox jumps over the lazy dog and it is a fine day in the park today ok"), // near-dup of 1000, smaller id
      (2L, "an entirely novel sentence about gardens rivers mountains and the weather we had last spring"))
      .toDF("doc_id", "text")
    val inc = Curation.incrementalCurate(day1.state, delta, minQuality = 0.5,
      maxJaccardDist = 0.3, withAccounting = false)
    val ids = inc.survivors.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(1L), "small-id delta near-dup of a history survivor must die")
    assert(ids.contains(2L), "novel delta content must survive")
  }

  test("accounting is monotone non-increasing and survivors are input rows") {
    val r = Curation.curate(DedupQueries.corpusTriple(spark, sf001),
      DedupQueries.CurationMinQuality)
    val counts = r.accounting.map(_._2)
    assert(counts == counts.sorted.reverse, s"not monotone: ${r.accounting}")
    assert(counts.last > 0)
    // every planted verbatim copy is gone; every surviving id appears once
    val ids = r.survivors.select("doc_id").collect().map(_.getLong(0))
    assert(ids.length == ids.distinct.length)
    val verbatim = ids.count(id => id >= DedupQueries.IdOffset && id < 2 * DedupQueries.IdOffset)
    assert(verbatim == 0, s"$verbatim verbatim copies survived")
  }

  test("incrementalSurvivors returns incrementalCurate's survivors and accounting, and leaves nothing cached") {
    val history = graft.Tables.documents(spark, sf001)
      .select(col("doc_id"), col("text"))
    val minQ = DedupQueries.CurationMinQuality
    val day1 = Curation.curateSketch(history, minQ, withAccounting = false)
    val delta = DedupQueries.curationDelta(history)
    val inc = Curation.incrementalCurate(day1.state, delta, minQ)
    val cachedBefore = CachedEntries(spark)
    val only = Curation.incrementalSurvivors(day1.state, delta, minQ)
    assert(CachedEntries(spark) == cachedBefore, "a frame persisted by the call is still cached")
    assert(only.accounting == inc.accounting)
    assert(only.survivors.count() > 0)
    assert(only.survivors.exceptAll(inc.survivors).isEmpty &&
      inc.survivors.exceptAll(only.survivors).isEmpty)
  }

  test("q_curation_incremental starts at most 37 Spark jobs (one call + one noop write)") {
    // 53 jobs before the survivors-only path, the single pair cut of
    // connectedComponents, the window keeper rule and the parquet
    // schema memo; 35 with them
    def call(): Unit = DedupQueries.qCurationIncremental(spark, sf001)
      .write.format("noop").mode("overwrite").save()
    call() // builds the day-1 state, once per process
    val jobs = JobCount(spark.sparkContext, "curation-incremental-job-count")(call())
    assert(jobs > 0 && jobs <= 37, s"q_curation_incremental jobs: $jobs")
  }

  test("ExplainDump's stage 1 dumps are the projections the pipelines' quality cuts materialize") {
    def stage1(stages: Seq[(String, DataFrame)]): DataFrame =
      stages.collectFirst { case (name, df) if name.contains(" stage 1:") => df }.get
    def sameAnalyzed(a: DataFrame, b: DataFrame): Boolean =
      a.queryExecution.analyzed.sameResult(b.queryExecution.analyzed)
    val docs = graft.Tables.documents(spark, sf001).select(col("doc_id"), col("text"))
    assert(sameAnalyzed(stage1(ExplainDump.curationStages(spark, sf001)),
      Curation.qualityProjection(DedupQueries.corpusTriple(spark, sf001))),
      "q_curation stage 1 is not the plan under Curation.qualityGate's cut")
    // built on the registered query's delta, not a hand-made one
    assert(sameAnalyzed(stage1(ExplainDump.incrementalStages(spark, sf001)),
      Curation.qualityProjection(DedupQueries.curationDelta(docs))),
      "q_curation_incremental stage 1 is not the plan under the query's quality cut")
  }
}
