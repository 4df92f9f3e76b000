package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The composite curation pipeline — what a training-data engine
  * actually runs end-to-end over a raw corpus: quality gate → exact
  * dedup → near-dup cluster resolution, threading one DataFrame
  * through with per-stage accounting (the same operator architecture
  * as [[graft.gsod.Impute.applyAll]], applied to the corpus domain).
  *
  * Stage semantics:
  *  1. quality: keep documents whose composite quality score
  *     ([[TextAnalysis.withQualitySignals]]) reaches `minQuality`;
  *  2. exact: keep only each content group's min-id keeper
  *     ([[Dedup.exactDedup]] — sha-256 groupBy, a left-semi join back);
  *  3. near-dup: generate exact n-gram Jaccard pairs among the
  *     survivors ([[Dedup.ngramJaccardPairs]], recall 1.0), resolve
  *     clusters ([[Dedup.connectedComponents]]), and drop every
  *     clustered document that is not its cluster's keeper.
  *
  * Scale: each stage is the already-audited operator — narrow
  * expression filter; digest groupBy + semi join; prefix-filtered
  * pair join + label propagation. Nothing here adds a new shuffle
  * shape.
  *
  * Materialization contract: the quality frame is EAGERLY cut with
  * `localCheckpoint(true)` because the very next stage reads it on
  * BOTH sides of one job (the sha-groupBy keeper build and the semi
  * join probe) — a lazily-persisted cache does not populate in time
  * within a single job, so the quality scan (and the corpus scan
  * under it) would run twice. The returned survivor frame is likewise
  * checkpointed, which cuts its lineage and lets every intermediate
  * cache (quality, exact, and the ngram pipeline's internal persists)
  * be RELEASED before returning — repeated `curate` calls in a
  * long-lived session leak nothing.
  *
  * The incremental core (quality → exact dedup against the state's
  * digests → MinHash pairs against its band index → components →
  * keeper rule) makes three cuts per delta: the quality frame, the
  * canonical pairs inside [[Dedup.connectedComponents]], and the
  * survivors; `fresh` and the delta's signature cache are persisted
  * and released before the entry point returns. Which entry point
  * appends state: [[incrementalCurate]] and the folds built on it
  * ([[screenedIncrementalCurate]], [[incrementalRelease]]) return the
  * UPDATED [[SketchState]], paying two more eager cuts (the survivors'
  * slice of the delta's bands and sets); [[incrementalSurvivors]]
  * returns the survivors alone and makes neither.
  */
object Curation {

  final case class Result(survivors: DataFrame, accounting: Seq[(String, Long)])

  /** `withAccounting = false` skips the per-stage count actions (the
    * reference-style printed accounting); counts read the already-
    * materialized checkpoint/cache blocks, so accounting costs scans,
    * not recomputation. An empty quality stage short-circuits: a corpus
    * with no quality survivors skips the downstream stages entirely
    * instead of running the pair-generation machinery over an empty
    * frame. (Exact dedup cannot produce an empty frame from a non-empty
    * quality stage — every content group keeps one row — so no second
    * short-circuit exists.) */
  def curate(docs: DataFrame, minQuality: Double,
      k: Int = 3, minJaccard: Double = 0.8,
      textCol: String = "text", idCol: String = "doc_id",
      withAccounting: Boolean = true): Result = {
    val acc = scala.collection.mutable.ListBuffer.empty[(String, Long)]
    def account(stage: String, df: DataFrame): Unit =
      if (withAccounting) acc += stage -> df.count()
    account("input", docs)

    // eager: feeds the keeper build AND the semi-join probe of one job
    val quality = TextAnalysis.withQualitySignals(docs, textCol)
      .filter(col("quality_score") >= minQuality)
      .select(col(idCol), col(textCol))
      .localCheckpoint(true)
    account("quality", quality)
    if (quality.isEmpty) {
      account("exact-dedup", quality)
      account("near-dedup", quality)
      return Result(quality, acc.toList)
    }

    val keepers = Dedup.exactDedup(quality, textCol, idCol)
      .select(col("keeper").as(idCol))
    val exact = quality.join(keepers, Seq(idCol), "left_semi")
      .persist(StorageLevel.MEMORY_AND_DISK)
    account("exact-dedup", exact)

    val (pairs, pairHandles) =
      Dedup.ngramJaccardPairsWithHandles(exact, k, minJaccard, textCol, idCol)
    // connectedComponents materializes eagerly (per-round localCheckpoint)
    // and returns a lineage-cut frame, so the pair pipeline's caches are
    // fully consumed once it returns
    val clusteredNonKeepers = Dedup.connectedComponents(pairs)
      .filter(col("doc_id") =!= col("component"))
      .select(col("doc_id").as(idCol))
    pairHandles.foreach(_.unpersist())
    val survivors = exact.join(clusteredNonKeepers, Seq(idCol), "left_anti")
      .localCheckpoint(true) // eager: cuts lineage so `exact` can release
    account("near-dedup", survivors)
    exact.unpersist()
    // `quality`'s checkpoint blocks are RDD-level (not CacheManager
    // entries): the ContextCleaner reaps them once the frame goes out
    // of scope, so nothing accumulates across repeated curate calls

    Result(survivors, acc.toList)
  }

  /** The persistable curation state of a corpus generation: survivor
    * content digests (`content_sha`) for the exact stage, and the
    * survivor MinHash band index (`bands`, `sets` —
    * [[Dedup.minhashIndex]] frames) for the near-dup stage. Three
    * parquet writes a day; tomorrow's increment reads them back and
    * never re-scans history. */
  final case class SketchState(digests: DataFrame, bands: DataFrame, sets: DataFrame)

  final case class SketchResult(survivors: DataFrame, state: SketchState,
      accounting: Seq[(String, Long)])

  /** [[curate]] with the MinHash sketch tier in the near-dup stage
    * (instead of exact PPJoin — whose asc-df prefix ordering depends on
    * GLOBAL document frequencies and therefore cannot be honestly
    * incrementalized), returning the [[SketchState]] a later
    * [[incrementalCurate]] consumes. Day-1 full run emits state;
    * day-N increments fold into it. */
  def curateSketch(docs: DataFrame, minQuality: Double,
      k: Int = 3, maxJaccardDist: Double = 0.2,
      textCol: String = "text", idCol: String = "doc_id",
      withAccounting: Boolean = true): SketchResult = {
    val acc = scala.collection.mutable.ListBuffer.empty[(String, Long)]
    def account(stage: String, df: DataFrame): Unit =
      if (withAccounting) acc += stage -> df.count()
    account("input", docs)

    val quality = TextAnalysis.withQualitySignals(docs, textCol)
      .filter(col("quality_score") >= minQuality)
      .select(col(idCol), col(textCol))
      .localCheckpoint(true)
    account("quality", quality)

    val keepers = Dedup.exactDedup(quality, textCol, idCol)
      .select(col("keeper").as(idCol))
    val exact = quality.join(keepers, Seq(idCol), "left_semi")
      .persist(StorageLevel.MEMORY_AND_DISK)
    account("exact-dedup", exact)

    val (bands, sets, mhHandle) =
      Dedup.minhashIndexWithHandle(exact, k, textCol = textCol, idCol = idCol)
    val clusteredNonKeepers = Dedup
      .connectedComponents(
        Dedup.minhashPairsFromIndex(bands, sets, maxJaccardDist, idCol))
      .filter(col("doc_id") =!= col("component"))
      .select(col("doc_id").as(idCol))
    val survivors = exact.join(clusteredNonKeepers, Seq(idCol), "left_anti")
      .localCheckpoint(true)
    account("near-dedup", survivors)
    exact.unpersist()

    // the kept state slices are eagerly cut so the signature cache can
    // be RELEASED now — without this, every curateSketch call would
    // leak one cached signature table for the life of the session.
    // The two cuts are independent reads of the same persisted
    // signature cache — concurrent per guide §2.6 (wall ≈ max, not sum)
    val survivorIds = survivors.select(col(idCol))
    val Seq(stBands, stSets) = graft.ops.Par.eagerly(
      () => bands.join(survivorIds, Seq(idCol), "left_semi")
        .localCheckpoint(true),
      () => sets.join(survivorIds, Seq(idCol), "left_semi")
        .localCheckpoint(true))
    mhHandle.unpersist()
    SketchResult(survivors,
      SketchState(
        survivors.select(sha2(col(textCol), 256).as("content_sha")),
        stBands, stSets),
      acc.toList)
  }

  /** Curate ONE DAY'S increment against the persisted [[SketchState]]
    * of everything already curated — history is never re-scanned:
    *
    *  1. quality-gate the delta (per-doc, delta-only);
    *  2. [[Dedup.incrementalExactDedup]] vs the survivor digest set —
    *     verbatim re-ingests die, within-delta exact dups keep min id;
    *  3. [[Dedup.incrementalMinhashPairs]] vs the survivor band index —
    *     a delta doc clustered with ANY history survivor dies
    *     (regardless of id ordering between the generations: the rule
    *     checks component MEMBERSHIP, not the min label); purely
    *     intra-delta near-dup clusters keep their min delta id.
    *
    * A delta doc near-duplicating a doc that HISTORY dropped still
    * dies: the content it matches survives in the history keeper, and
    * the near-dup stage links them (CurationSpec proves incremental
    * survivors == the from-scratch [[curateSketch]] over
    * history-survivors ∪ delta, restricted to delta ids). One
    * deliberate asymmetry of incremental curation: history survivors
    * are never revoked — a delta doc can bridge two history docs into
    * one cluster, but yesterday's published corpus stays published.
    *
    * Returns the delta survivors plus the UPDATED state (history state
    * ∪ the delta survivors' digests/bands/sets) to persist for the
    * next increment. */
  def incrementalCurate(state: SketchState, delta: DataFrame,
      minQuality: Double, k: Int = 3, maxJaccardDist: Double = 0.2,
      textCol: String = "text", idCol: String = "doc_id",
      withAccounting: Boolean = true): SketchResult = {
    val (survivors, dBands, dSets, mhHandle, acc) = incrementalCurateCore(
      state, delta, minQuality, k, maxJaccardDist, textCol, idCol,
      withAccounting)
    appendState(state, survivors, dBands, dSets, mhHandle, textCol, idCol,
      acc)
  }

  /** [[incrementalCurate]]'s survivors and accounting WITHOUT the state
    * append — for a caller that reads only the survivors (the
    * registered q_curation_incremental query): the two eager
    * semi-join cuts of the delta's bands and sets are skipped, and the
    * delta's signature cache is released before returning. The
    * survivors are the same frame [[incrementalCurate]] returns. */
  def incrementalSurvivors(state: SketchState, delta: DataFrame,
      minQuality: Double, k: Int = 3, maxJaccardDist: Double = 0.2,
      textCol: String = "text", idCol: String = "doc_id",
      withAccounting: Boolean = true): Result = {
    val (survivors, _, _, mhHandle, acc) = incrementalCurateCore(
      state, delta, minQuality, k, maxJaccardDist, textCol, idCol,
      withAccounting)
    mhHandle.unpersist()
    Result(survivors, acc)
  }

  /** The shared tail of the fold members: append `survivors`' slice of
    * the delta index to the persisted state. The slices are eagerly
    * cut so the delta's signature cache releases per increment — the
    * property that keeps a long-running foreachBatch ingest loop at
    * bounded executor storage. */
  private def appendState(state: SketchState, survivors: DataFrame,
      dBands: DataFrame, dSets: DataFrame, mhHandle: DataFrame,
      textCol: String, idCol: String,
      acc: Seq[(String, Long)]): SketchResult = {
    // independent cuts of one persisted signature cache — concurrent
    // per guide §2.6 (wall ≈ max, not sum)
    val survivorIds = survivors.select(col(idCol))
    val Seq(newBands, newSets) = graft.ops.Par.eagerly(
      () => dBands.join(survivorIds, Seq(idCol), "left_semi")
        .localCheckpoint(true),
      () => dSets.join(survivorIds, Seq(idCol), "left_semi")
        .localCheckpoint(true))
    mhHandle.unpersist()
    SketchResult(survivors,
      SketchState(
        state.digests.unionByName(
          survivors.select(sha2(col(textCol), 256).as("content_sha"))),
        state.bands.unionByName(newBands),
        state.sets.unionByName(newSets)),
      acc)
  }

  /** [[incrementalCurate]] minus the state append — the release fold
    * inserts its decontamination gates between curation and the
    * append, so a flagged page is dropped BEFORE its digest/bands ever
    * reach the state (the screen-at-the-door discipline). Returns the
    * curation survivors plus the delta's (bands, sets) index and the
    * signature unpersist handle for the caller's [[appendState]]. */
  private def incrementalCurateCore(state: SketchState, delta: DataFrame,
      minQuality: Double, k: Int, maxJaccardDist: Double,
      textCol: String, idCol: String, withAccounting: Boolean)
      : (DataFrame, DataFrame, DataFrame, DataFrame, Seq[(String, Long)]) = {
    val acc = scala.collection.mutable.ListBuffer.empty[(String, Long)]
    def account(stage: String, df: DataFrame): Unit =
      if (withAccounting) acc += stage -> df.count()
    account("input", delta)

    val quality = TextAnalysis.withQualitySignals(delta, textCol)
      .filter(col("quality_score") >= minQuality)
      .select(col(idCol), col(textCol))
      .localCheckpoint(true)
    account("quality", quality)

    val fresh = Dedup.incrementalExactDedup(state.digests, quality, textCol, idCol)
      .select(col(idCol), col(textCol))
      .persist(StorageLevel.MEMORY_AND_DISK)
    account("exact-dedup", fresh)

    val (pairs, dBands, dSets, mhHandle) = Dedup.incrementalMinhashPairsFull(
      state.bands, state.sets, fresh,
      k, maxJaccardDist, textCol = textCol, idCol = idCol)
    // keeper rule WITHOUT any id-ordering assumption between history
    // and delta: a delta doc in a component containing ANY history
    // member dies (history is published and never revoked); a purely
    // intra-delta component keeps its min DELTA id. (A min-label rule
    // alone would let a delta doc with a smaller id than its matched
    // history survivor slip through as its own "keeper".)
    val comp = Dedup.connectedComponents(pairs)
      .withColumnRenamed("doc_id", idCol)
      .join(fresh.select(col(idCol)).withColumn("_delta", lit(1)),
        Seq(idCol), "left")
    // per-component flags as window aggregates: one exchange on
    // component and no join back to `comp`
    val byComp = Window.partitionBy(col("component"))
    val deltaNonKeepers = comp
      .withColumn("_has_hist",
        max(when(col("_delta").isNull, 1).otherwise(0)).over(byComp))
      .withColumn("_min_delta",
        min(when(col("_delta") === 1, col(idCol))).over(byComp))
      .filter(col("_delta") === 1 &&
        (col("_has_hist") === 1 || col(idCol) =!= col("_min_delta")))
      .select(col(idCol))
    val survivors = fresh.join(deltaNonKeepers, Seq(idCol), "left_anti")
      .localCheckpoint(true)
    account("near-dedup", survivors)
    fresh.unpersist()
    // the delta was shingled/banded ONCE (inside the pair generation);
    // the caller appends the FINAL survivors' slice of that same index
    (survivors, dBands, dSets, mhHandle, acc.toList)
  }

  /** The INCREMENTAL RELEASE face (r19 verdict directive 4): one
    * foreachBatch body chaining the existing fold members into the
    * release recipe — blocklist screen at the door
    * ([[screenedIncrementalCurate]]'s one-pass verdict), the curation
    * fold (quality → incremental exact dedup → incremental near
    * dedup, history never re-scanned), then the two decontamination
    * gates against the FROZEN eval probe: digest-keyed exact drop and
    * the asymmetric containment screen ([[Dedup.containmentPairs]],
    * probe broadcast, the train-arrival direction of
    * [[screenedTrainShingleFold]]). Emits the per-batch manifest
    * accounting (blocklist_in, input, quality, exact-dedup, near-dedup,
    * decontam-exact, decontam-containment — each row the stage's
    * surviving doc count, blocklist_in the raw batch size) and the
    * updated state.
    *
    * State discipline: the decontamination gates run BEFORE the state
    * append, so a flagged page's digest and bands never enter the
    * published state (the screen-at-the-door rule — a later batch
    * near-duplicating a decontaminated page is judged against clean
    * state only). Both gates are stateless per-document functions of
    * the frozen probe, so they commute with trigger slicing; the
    * dedup stages carry the fold members' documented first-arrival
    * keeper asymmetry (history is never revoked). StreamingSpec's
    * replay check pins: per-batch accounting sums equal the one-shot
    * stateless-stage accounting, and the released corpus equals the
    * one-shot release BY CONTENT DIGEST on clique-geometry fixtures
    * (keeper IDs may differ across slicings — the incremental
    * contract's documented exception).
    *
    * 100 TB shape: delta-only costs throughout — the probe is the
    * bounded broadcast side of the containment screen, history state
    * is touched only where a band key or digest collides, and every
    * per-batch intermediate is eagerly cut and released. */
  def incrementalRelease(state: SketchState, delta: DataFrame,
      phrases: Seq[String], minQuality: Double, probe: DataFrame,
      k: Int = 3, maxJaccardDist: Double = 0.2,
      textCol: String = "text", idCol: String = "doc_id",
      withAccounting: Boolean = true): SketchResult = {
    val verdict = Blocklist.screen(delta, idCol, textCol, phrases)
      .select(col(idCol), col("keep"))
      .localCheckpoint(true)
    val screened = delta.join(
      verdict.filter(col("keep")).select(col(idCol)), Seq(idCol), "left_semi")
    val (curated, dBands, dSets, mhHandle, coreAcc) = incrementalCurateCore(
      state, screened, minQuality, k, maxJaccardDist, textCol, idCol,
      withAccounting)
    val acc = scala.collection.mutable.ListBuffer.empty[(String, Long)]
    if (withAccounting) {
      acc += "blocklist_in" -> verdict.count()
      acc ++= coreAcc
    }
    val probeCut = probe
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .localCheckpoint(true)
    val s6 = curated.join(
        probeCut.select(sha2(col("text"), 256).as("probe_sha")),
        sha2(curated(textCol), 256) === col("probe_sha"), "left_anti")
      .localCheckpoint(true)
    if (withAccounting) acc += "decontam-exact" -> s6.count()
    val flagged = Dedup.containmentPairs(probeCut,
        s6.select(col(idCol).as("doc_id"), col(textCol).as("text")))
      .select(col("train_id").as(idCol)).distinct()
    val survivors = s6.join(flagged, Seq(idCol), "left_anti")
      .localCheckpoint(true)
    if (withAccounting) acc += "decontam-containment" -> survivors.count()
    appendState(state, survivors, dBands, dSets, mhHandle, textCol, idCol,
      acc.toList)
  }

  /** The continuous-ingest POLICY GATE chained into the curation fold —
    * one foreachBatch body (r17 verdict directive 6): the delta is
    * screened with the frozen blocklist ([[Blocklist.screen]], a
    * stateless whole-stage-codegen projection — it adds NO streaming
    * state beyond the [[SketchState]] the fold already persists),
    * flagged documents drop before quality scoring ever sees them, and
    * the survivors fold into the persisted state exactly as
    * [[incrementalCurate]] would. Because the screen is stateless and
    * per-row, the streaming fold replays batch-identically under any
    * trigger slicing (StreamingSpec's replay check) — the same
    * argument as every projection face.
    *
    * 100 TB shape: the screen adds one narrow codegen pass over the
    * DELTA only (history is never re-screened — a policy-list CHANGE
    * is a backfill, not a fold); everything else inherits
    * [[incrementalCurate]]'s delta-only costs. */
  def screenedIncrementalCurate(state: SketchState, delta: DataFrame,
      phrases: Seq[String], minQuality: Double,
      k: Int = 3, maxJaccardDist: Double = 0.2,
      textCol: String = "text", idCol: String = "doc_id",
      withAccounting: Boolean = true): SketchResult = {
    // ONE screen pass per trigger batch (r18 verdict directive 7 —
    // the r18 spelling paid a second raw-delta action for the
    // blocklist_in count): the (id, keep) verdict frame is narrow and
    // eagerly cut, so the accounting count AND the semi-join probe
    // both read materialized blocks instead of re-running the screen
    // over the delta's text.
    val verdict = Blocklist.screen(delta, idCol, textCol, phrases)
      .select(col(idCol), col("keep"))
      .localCheckpoint(true)
    val screened = delta.join(
      verdict.filter(col("keep")).select(col(idCol)), Seq(idCol), "left_semi")
    val r = incrementalCurate(state, screened, minQuality, k,
      maxJaccardDist, textCol, idCol, withAccounting)
    if (!withAccounting) r
    // the prepended row is the RAW delta size, so the screen's drop
    // count reads directly as (blocklist_in − input) — the fold's own
    // "input" row already counts the post-screen frame
    else SketchResult(r.survivors, r.state,
      ("blocklist_in" -> verdict.count()) +: r.accounting)
  }

  /** The TRAIN-ARRIVAL streaming containment face (r18 verdict
    * directive 5) — the direction production actually sees: the eval
    * benchmark set is FROZEN and small; TRAIN pages arrive
    * continuously. Each trigger batch is (1) SCREENED against the
    * frozen probe — every (eval, train) pair whose eval-side trigram
    * containment clears the threshold is emitted as a verdict, the
    * embedded-benchmark geometry [[Dedup.containmentPairs]] exists
    * for — and (2) FOLDED: the CLEAN docs' shingle rows append to the
    * train index; flagged docs never enter it (the blocklist-gate
    * discipline: a leaky page is dropped at the door, not laundered
    * into state).
    *
    * The returned index is a pure `unionByName` of (train_id, sh)
    * rows — no shuffle, no aggregation in the fold path — and both the
    * screen (a per-doc function of the frozen probe alone) and the
    * fold (set union over disjoint doc ids) are ORDER- and
    * SLICING-INSENSITIVE, so fold(batches) equals the one-shot index
    * over the concatenated delta exactly (StreamingSpec's replay
    * check), not just for one trigger layout.
    *
    * Cap note: the arrival screen runs UNCAPPED against the delta —
    * the delta is the bounded side (probe broadcast × one batch), so
    * hot-shingle fan-out cannot bite here; the df cap protects the
    * CORPUS-WIDE serve screen, which derives its kept/hot split from
    * this raw index via [[Dedup.dfCapShingleFrame]] once per eval
    * release (df is a pure groupBy of the rows, so no df state needs
    * folding — once a shingle crosses the cap it stays hot, and the
    * serve-time split always reflects the full folded history).
    *
    * State-growth contract (r19 ADVICE): each trigger eagerly cuts the
    * batch shingle frame and the verdict frame, and the returned index
    * is a lazy union REFERENCING every batch's checkpoint blocks —
    * that accumulation IS the state store, and the blocks release only
    * via the ContextCleaner once the frames referencing them are
    * dropped on the driver. A long-running stream must therefore
    * either persist the folded index to parquet and reload (the
    * crash-recovery pattern, which also bounds the union's plan depth)
    * or periodically compact with `localCheckpoint(true)` and drop the
    * old reference; holding every returned (verdicts, index) pair for
    * the life of the session grows block-manager storage linearly in
    * triggers. */
  def screenedTrainShingleFold(trainSh: DataFrame, batch: DataFrame,
      evalProbe: DataFrame, k: Int = 3, minContainNum: Int = 4,
      minContainDen: Int = 5): (DataFrame, DataFrame) = {
    // eagerly cut: the batch shingle frame feeds the screen AND the
    // fold; without the cut the delta would be re-shingled per branch
    val batchSh = Dedup.literalShingleFrame(batch, k, "train_id")
      .localCheckpoint(true)
    val verdicts = Dedup.containmentPairsFromIndex(evalProbe, batchSh, k,
      minContainNum, minContainDen).localCheckpoint(true)
    val cleanSh = batchSh.join(
      verdicts.select(col("train_id")).distinct(), Seq("train_id"), "left_anti")
    (verdicts, trainSh.unionByName(cleanSh))
  }

  /** The tier selection for [[releaseManifest]] (r19 verdict
    * directives 1–2): `Certified` runs every stage in its
    * ORACLE-REPLAYABLE spelling (exact PPJoin pairs, text-equality
    * decontamination, the uncapped containment screen — the
    * hash-checkable recipe q_corpus_release certifies); `Production`
    * swaps in the spellings a 100 TB run actually executes — banded
    * MinHash paragraph pairs, banded doc near-dedup, digest-keyed
    * exact decontamination, and the DF-CAPPED containment screen.
    * Each swap-in is individually recall-gated elsewhere
    * (q_dedup_paragraphs_bounds, q_dedup_sketch_recall_bounds, the
    * sha-collision argument, q_contamination_capped_bounds); the
    * COMPOSED production recipe is certified stage-for-stage against
    * the certified manifest by q_corpus_release_prod_bounds. */
  final case class ReleaseTiers(
      bandedParagraphExcise: Boolean = false,
      bandedNearDedup: Boolean = false,
      digestExactDecontam: Boolean = false,
      cappedContainment: Boolean = false)

  object ReleaseTiers {
    val Certified: ReleaseTiers = ReleaseTiers()
    val Production: ReleaseTiers = ReleaseTiers(
      bandedParagraphExcise = true, bandedNearDedup = true,
      digestExactDecontam = true, cappedContainment = true)
  }

  /** The END-TO-END release manifest (r18 verdict directive 3): ONE
    * operator composing the full shipped curation recipe — blocklist
    * screen → quality gate → paragraph excision → exact dedup →
    * near-dup dedup → decontamination (exact, then containment) →
    * water-fill mix → token packing → shard layout — and emitting the
    * per-stage accounting a data lead actually reads: one row per
    * stage with (docs_in, docs_out, tokens_out), tokens in the house
    * whitespace convention ([[TextAnalysis.wsTokenCount]]). Under the
    * default [[ReleaseTiers.Certified]] every stage is the
    * already-audited operator in its ORACLE-REPLAYABLE spelling (the
    * q_curation precedent), so the whole manifest hash-checks end to
    * end; [[ReleaseTiers.Production]] swaps in the 100 TB spellings
    * stage for stage (identical downstream shape, accounting certified
    * equal by q_corpus_release_prod_bounds where every swap-in's
    * recall is measured 1.0 on the harness fixture).
    *
    * Stage semantics, in order:
    *  1. blocklist: [[Blocklist.screen]] keep-verdict (flagged docs
    *     drop before anything else reads them);
    *  2. quality: [[TextAnalysis.withQualitySignals]] composite score
    *     ≥ minQuality;
    *  3. paragraph_excise: [[Dedup.paragraphExcise]] — boilerplate
    *     paragraphs removed, docs REWRITTEN; a doc emptied by excision
    *     leaves the release here (every later stage reads the
    *     rewritten text — dedup after excision, the Gopher order);
    *  4. exact_dedup: sha-grain group keeper ([[Dedup.exactDedup]]);
    *  5. near_dedup: exact n-gram Jaccard pairs + connected components,
    *     cluster keeper survives (the [[curate]] rule);
    *  6. decontam_exact: docs whose full text equals an eval-probe doc
    *     drop (the verbatim-leak tier);
    *  7. decontam_containment: docs flagged by the asymmetric
    *     containment screen against the same probe drop
    *     ([[Dedup.containmentPairs]], eval side broadcast by contract);
    *  8. mix: [[graft.ops.DomainMix.waterFillSelect]] greedy-prefix
    *     selection under the frozen weight table at 3/5 budget;
    *  9. pack: the 512-token block layout — docs_out is the BLOCK
    *     count ⌈tokens/512⌉ (the unit a release actually ships),
    *     tokens_out the packed token mass;
    * 10. shard: the mix stage's documents dealt to 8 token-balanced
    *     output shards by the q_shard_snake snake rule (two-level
    *     bucketed rank — no single task ever sorts the corpus);
    *     docs_out is the number of NONEMPTY shards and tokens_out the
    *     per-shard token sums SUMMED BACK (so the row itself measures
    *     conservation of the dealt mass); the ≤-one-doc per-shard
    *     balance invariant is pinned by ReleaseManifestSpec. Pack and
    *     shard are parallel terminal LAYOUT rows — both read the mix
    *     stage's frame, so both report docs_in = the mix doc count.
    *
    * Accounting contract: docs_out(stage) == docs_in(next stage)
    * through the mix stage (the two layout rows switch units —
    * blocks, shards); tokens_out is measured on the stage's OUTPUT
    * text (so the paragraph stage's token drop is visible even though
    * its doc count barely moves). All counts are exact integers read
    * off checkpointed stage frames — the manifest costs one count +
    * one token-sum aggregate per stage on top of the stage work
    * itself.
    *
    * Cap metadata (r19 verdict directive 2): under
    * `tiers.cappedContainment` the containment stage builds a
    * [[Dedup.dfCapShingleFrame]] index over the surviving corpus at
    * the production cap max(n_docs/10, 1) — the same rule as the
    * persisted q_contamination index — and the manifest gains two
    * stage-7 metadata columns (n_hot_shingles, dropped_mass), zero on
    * every other row. The uncapped default emits the classic 5-column
    * frame, byte-identical to the r19 manifest through the pack row —
    * at harness scale the two screens agree row-for-row anyway (no
    * natural shingle reaches the cap: the K=∞ equivalence
    * q_contamination_capped_bounds pins structurally).
    *
    * 100 TB shape: the composition adds NOTHING beyond its stages —
    * each stage's frame is eagerly cut (it feeds the next stage, its
    * own two accounting reads, and nothing else), so lineage never
    * compounds across stages and every intermediate releases once the
    * next checkpoint lands. */
  def releaseManifest(docs0: DataFrame, phrases: Seq[String],
      minQuality: Double, evalProbe: DataFrame,
      mixWeights: Map[String, Long],
      tiers: ReleaseTiers = ReleaseTiers.Certified): DataFrame = {
    val spark = docs0.sparkSession
    import spark.implicits._
    val toks = TextAnalysis.wsTokenCount(col("text"))
    def tokensOf(df: DataFrame): Long =
      df.agg(coalesce(sum(toks), lit(0L))).head().getLong(0)
    val rows = scala.collection.mutable.ListBuffer
      .empty[(Int, String, Long, Long, Long, Long, Long)]
    var prevCount = -1L
    var prevTokens = 0L
    def stage(id: Int, name: String, in: Long, out: DataFrame,
        hotShingles: Long = 0L, droppedMass: Long = 0L): DataFrame = {
      val cut = out.localCheckpoint(true)
      val n = cut.count()
      prevTokens = tokensOf(cut)
      rows += ((id, name, in, n, prevTokens, hotShingles, droppedMass))
      prevCount = n
      cut
    }

    // the input row's docs_in == docs_out by definition: checkpoint
    // FIRST, count once (the r19 self-review caught the draft
    // evaluating the fixture join twice for two identical numbers)
    val s0 = docs0.localCheckpoint(true)
    prevCount = s0.count()
    prevTokens = tokensOf(s0)
    rows += ((0, "input", prevCount, prevCount, prevTokens, 0L, 0L))
    val verdict = Blocklist.screen(s0, "doc_id", "text", phrases)
      .filter(col("keep")).select(col("doc_id"))
    val s1 = stage(1, "blocklist", prevCount,
      s0.join(verdict, Seq("doc_id"), "left_semi"))
    val s2 = stage(2, "quality", prevCount,
      TextAnalysis.withQualitySignals(s1)
        .filter(col("quality_score") >= minQuality)
        .select(col("doc_id"), col("source"), col("text")))
    val s3 = stage(3, "paragraph_excise", prevCount,
      Dedup.paragraphExcise(s2.select(col("doc_id"), col("text")),
          banded = tiers.bandedParagraphExcise)
        .filter(col("text_clean") =!= "")
        .select(col("doc_id"), col("text_clean").as("text"))
        .join(s2.select(col("doc_id"), col("source")), Seq("doc_id")))
    val keepers = Dedup.exactDedup(s3).select(col("keeper").as("doc_id"))
    val s4 = stage(4, "exact_dedup", prevCount,
      s3.join(keepers, Seq("doc_id"), "left_semi"))
    // near-dedup pair source: exact PPJoin at J >= 0.8 (certified) or
    // the banded MinHash tier at the same threshold (production —
    // maxJaccardDist 0.2, the curateSketch spelling); identical
    // downstream component/keeper machinery either way
    val (pairs, pairHandles) =
      if (tiers.bandedNearDedup) {
        val (bands, sets, h) = Dedup.minhashIndexWithHandle(s4)
        (Dedup.minhashPairsFromIndex(bands, sets, maxJaccardDist = 0.2),
          Seq(h))
      } else Dedup.ngramJaccardPairsWithHandles(s4)
    val clusteredNonKeepers = Dedup.connectedComponents(pairs)
      .filter(col("doc_id") =!= col("component"))
      .select(col("doc_id"))
    val s5 = stage(5, "near_dedup", prevCount,
      s4.join(clusteredNonKeepers, Seq("doc_id"), "left_anti"))
    pairHandles.foreach(_.unpersist())
    val probe = evalProbe.select(col("doc_id"), col("text"))
      .localCheckpoint(true)
    // exact decontamination key: raw text equality (certified — the
    // oracle-replayable spelling) or the sha-256 digest (production:
    // the incrementalExactDedup key, 32 bytes per row instead of the
    // document text riding the anti-join)
    val s6 = stage(6, "decontam_exact", prevCount,
      if (tiers.digestExactDecontam)
        s5.join(probe.select(sha2(col("text"), 256).as("probe_sha")),
          sha2(s5("text"), 256) === col("probe_sha"), "left_anti")
      else s5.join(probe.select(col("text")), Seq("text"), "left_anti"))
    val (flagged, capHot, capMass) =
      if (tiers.cappedContainment) {
        // the production cap rule — max(n_docs/10, 1), the persisted
        // q_contamination index's spelling; prevCount is the s6 doc
        // count already measured, so the cap costs no extra action
        val idx = Dedup.dfCapShingleFrame(
          Dedup.literalShingleFrame(s6, 3, "train_id"),
          math.max(1L, prevCount / 10L))
        (Dedup.containmentPairsFromCappedIndex(probe, idx)
            .select(col("train_id").as("doc_id")).distinct(),
          idx.nDroppedShingles, idx.droppedMass)
      } else
        (Dedup.containmentPairs(probe, s6)
          .select(col("train_id").as("doc_id")).distinct(), 0L, 0L)
    val s7 = stage(7, "decontam_containment", prevCount,
      s6.join(flagged, Seq("doc_id"), "left_anti"),
      hotShingles = capHot, droppedMass = capMass)
    val selected = graft.ops.DomainMix.waterFillSelect(
        s7.select(col("doc_id"), col("source"), toks.as("n_tokens")),
        "source", "doc_id", "n_tokens", mixWeights,
        budgetNum = 3L, budgetDen = 5L)
      .select(col("doc_id"))
    val s8 = stage(8, "mix", prevCount,
      s7.join(selected, Seq("doc_id"), "left_semi"))
    // pack is pure block arithmetic over the mix stage's already-
    // measured token mass — no new action
    rows += ((9, "pack", prevCount, (prevTokens + 511L) / 512L, prevTokens,
      0L, 0L))
    // shard: snake-deal the mix docs to 8 token-balanced shards
    // (q_shard_snake's rule and rank machinery — the two-level
    // bucketed rank, so no single task sorts the corpus). The tiny
    // (doc_id, n_tokens) frame is eagerly cut because SaltedWindow
    // reads it from three plan branches.
    val shardToks = s8
      .select(col("doc_id"), toks.cast("long").as("n_tokens"))
      .withColumn("_all", lit(1))
      .localCheckpoint(true)
    val shardRow = graft.ops.SaltedWindow.groupedRank(
        shardToks, "_all", "n_tokens", "doc_id", buckets = 64,
        ascending = false)
      .withColumn("shard",
        expr("CASE WHEN ((rank - 1) div 8) % 2 = 0 THEN (rank - 1) % 8 " +
          "ELSE 7 - ((rank - 1) % 8) END"))
      .groupBy(col("shard"))
      .agg(sum(col("n_tokens")).as("t"))
      .agg(count(lit(1)), coalesce(sum(col("t")), lit(0L)))
      .head()
    rows += ((10, "shard", prevCount, shardRow.getLong(0),
      shardRow.getLong(1), 0L, 0L))

    val all = rows.toList.toDF("stage_id", "stage", "docs_in", "docs_out",
      "tokens_out", "n_hot_shingles", "dropped_mass")
    if (tiers.cappedContainment) all
    else all.select(col("stage_id"), col("stage"), col("docs_in"),
      col("docs_out"), col("tokens_out"))
  }
}
