package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.text.Dedup

/** Deduplication operators over the harness `documents` table.
  *
  * The harness corpus has no duplicate texts, so each query builds a
  * derived corpus: the documents plus a perturbed copy of each (first
  * token dropped, id offset by 100000). That plants one known near-dup
  * (exact dup for the exact-dedup query, which copies verbatim) per
  * document — ground truth the tests and oracles can check.
  */
object DedupQueries {

  val IdOffset = 100000L

  /** documents ∪ verbatim copy (ids offset) — for exact dedup. */
  def corpusExact(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    docs.union(docs.select((col("doc_id") + IdOffset).as("doc_id"), col("text")))
  }

  /** documents ∪ first-token-dropped copy (ids offset) — for near-dup. */
  def corpusNear(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val perturbed = docs.select((col("doc_id") + IdOffset).as("doc_id"),
      concat_ws(" ", slice(Dedup.tokens(col("text")), 2, 100000)).as("text"))
    docs.union(perturbed)
  }

  /** Exact dedup (hash-groupBy): every text occurs exactly twice, the
    * keeper is always the original id. Output re-keyed by keeper so the
    * oracle needs no hash function parity. */
  def qDedupExact(s: SparkSession, d: String): DataFrame =
    Dedup.exactDedup(corpusExact(s, d))
      .select(col("keeper"), col("n_copies"))
      .orderBy(col("keeper"))

  val qDedupExactSql: String =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + $IdOffset, text FROM documents
       |)
       |SELECT min(doc_id) AS keeper, count(*) AS n_copies
       |FROM corpus
       |GROUP BY text
       |ORDER BY keeper""".stripMargin

  /** Incremental exact dedup (Dedup.incrementalExactDedup): documents
    * are the already-curated corpus (represented only by their
    * digests); the delta is verbatim copies (must die against the seen
    * set) ∪ a perturbed copy ∪ the SAME perturbed copy again at a
    * higher id (within-delta dup — exactly one of the two survives,
    * min id wins). The oracle replays both rules with raw-text
    * equality, so the digest representation is itself under test
    * (a sha collision or truncation would flip a row). */
  def qDedupIncremental(s: SparkSession, d: String): DataFrame = {
    // docs feeds the seen-set digests AND three delta branches (two of
    // them through the perturbed derivation) — 12 documents scans
    // pre-fix; checkpoint once (the r12 shared-subframe discipline)
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      .localCheckpoint(true)
    val keeperShas = docs.select(sha2(col("text"), 256).as("content_sha"))
    val perturbed = docs.select((col("doc_id") + 2 * IdOffset).as("doc_id"),
      concat_ws(" ", slice(Dedup.tokens(col("text")), 2, 100000)).as("text"))
    val delta = docs.select((col("doc_id") + IdOffset).as("doc_id"), col("text"))
      .union(perturbed)
      .union(perturbed.select((col("doc_id") + IdOffset).as("doc_id"), col("text")))
    Dedup.incrementalExactDedup(keeperShas, delta)
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }

  val qDedupIncrementalSql: String =
    s"""WITH perturbed AS (
       |  SELECT doc_id + ${2 * IdOffset} AS doc_id,
       |    array_to_string(list_slice(string_split_regex(lower(trim(text)), '\\s+'), 2, 100000), ' ') AS text
       |  FROM documents
       |), delta AS (
       |  SELECT doc_id + $IdOffset AS doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id, text FROM perturbed
       |  UNION ALL
       |  SELECT doc_id + $IdOffset, text FROM perturbed
       |), fresh AS (
       |  SELECT * FROM delta
       |  WHERE text NOT IN (SELECT text FROM documents)
       |)
       |SELECT doc_id FROM fresh f
       |WHERE doc_id = (SELECT min(doc_id) FROM fresh g WHERE g.text = f.text)
       |ORDER BY doc_id""".stripMargin

  /** MinHash LSH near-dup pairs — rows-only check (LSH bucket layout is
    * not SQL-reproducible); tests assert planted-pair recall. */
  def qDedupMinhash(s: SparkSession, d: String): DataFrame =
    Dedup.minhashPairs(corpusNear(s, d))
      .orderBy(col("id_a"), col("id_b"))

  // one persisted index generation per (process, scale dir): the
  // artifact under test is the parquet round-trip + incremental join
  private val mhIdxCache = new java.util.concurrent.ConcurrentHashMap[String, String]

  /** Incremental MinHash near-dup: history = `documents`, indexed ONCE
    * and persisted to parquet ([[Dedup.minhashIndex]] frames — the
    * daily-pipeline artifact); delta = the perturbed near-dup copies.
    * The delta is banded fresh and joined against the RELOADED history
    * index — history is never re-shingled. Output = verified pairs
    * touching the delta; history↔history pairs (including the corpus's
    * natural original↔original near-dups) are yesterday's output and
    * do not reappear. DedupSpec asserts equality with the from-scratch
    * run restricted to delta-touching pairs. Rows-only for the
    * driver. */
  def qDedupIncrementalMinhash(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val dir = mhIdxCache.computeIfAbsent(d, _ =>
      graft.BuildTimes.timed("minhash_index_build") {
        val p = graft.TempDirs.create("graft_mhidx_").toString
        val (bands, sets) = Dedup.minhashIndex(docs)
        bands.write.mode("overwrite").parquet(s"$p/bands")
        sets.write.mode("overwrite").parquet(s"$p/sets")
        p
      })
    val delta = docs.select((col("doc_id") + IdOffset).as("doc_id"),
      concat_ws(" ", slice(Dedup.tokens(col("text")), 2, 100000)).as("text"))
    Dedup.incrementalMinhashPairs(
        s.read.parquet(s"$dir/bands"), s.read.parquet(s"$dir/sets"), delta)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Equivalence-bounds oracle row for [[qDedupIncrementalMinhash]] —
    * the q_contamination_incremental contract for the MinHash tier:
    * the incremental run (history banded ONCE, persisted to parquet,
    * delta joined against the RELOADED index) must emit exactly the
    * from-scratch run's delta-touching pairs, Jaccard estimates
    * included (multiset-exact via exceptAll both ways — a digest
    * truncation, band-layout drift, or signature mismatch between the
    * build and probe paths flips the row). `history_pairs_pruned`
    * pins the other half of the contract: the full run DOES contain
    * history↔history pairs (the corpus's natural near-dups), and the
    * incremental output correctly excludes them — yesterday's output
    * must not reappear. Fail-closed on `delta_pairs_found`. */
  def qDedupMinhashIncBounds(s: SparkSession, d: String): DataFrame = {
    val full = qDedupMinhash(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val expected = full.filter(col("id_a") >= IdOffset || col("id_b") >= IdOffset)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the from-scratch pair sweep and the incremental pipeline
      // (index build + reloaded-index probe) are independent — fork
      // them per guide §2.6; each leg counts its own frames
      val Seq((_, nFull, nExpected), (inc, nInc, _)) =
        graft.ops.Par.eagerly[(DataFrame, Long, Long)](
          () => (full, full.count(), expected.count()),
          () => {
            val i = qDedupIncrementalMinhash(s, d)
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            (i, i.count(), 0L)
          })
      try {
        val historyInternal = nFull - nExpected
        // one ±1-weighted groupBy instead of two exceptAll passes
        // (graft.ops.Diff scaladoc; "== 0" is spelling-invariant)
        val diff = graft.ops.Diff.symDiffCount(inc, expected)
        import s.implicits._
        Seq(("minhash_inc", nInc > 0, historyInternal > 0, diff == 0L))
          .toDF("tier", "delta_pairs_found", "history_pairs_pruned",
            "inc_matches_scratch")
      } finally { inc.unpersist(); () }
    } finally { expected.unpersist(); full.unpersist(); () }
  }

  val qDedupMinhashIncBoundsSql: String =
    // property-gate twin: literal expected frame, NOT a recomputation
    """SELECT * FROM (VALUES ('minhash_inc', true, true, true))
      |  t(tier, delta_pairs_found, history_pairs_pruned,
      |    inc_matches_scratch)""".stripMargin

  /** Exact bounded edit-distance pairs over short "titles" (first 24
    * chars of each doc) ∪ planted single-substitution mutants — the
    * string-metric tier ([[Dedup.editDistancePairs]]: length-banded
    * candidates, recall 1.0 by the |len diff| ≤ d bound; thresholded
    * levenshtein verify). The oracle replays the ALL-PAIRS definition,
    * so the banding optimization is proven output-identical to the
    * brute-force semantics. */
  def qDedupEditdist(s: SparkSession, d: String): DataFrame = {
    // id-prefixed titles — the shape this tier targets (titles / URLs /
    // names carry identifiers, making gram prefixes discriminative; a
    // pathologically low-entropy corpus degrades candidate pruning, as
    // any gram-prefix scheme must — see editDistancePairs doc)
    val titles = Tables.documents(s, d)
      .select(col("doc_id"),
        concat(col("doc_id").cast("string"), lit(":"),
          substring(col("text"), 1, 11)).as("title"))
    val mutated = titles.select((col("doc_id") + IdOffset).as("doc_id"),
      concat(lit("X"), substring(col("title"), 2, 100)).as("title"))
    Dedup.editDistancePairs(titles.union(mutated), maxDist = 1)
      .orderBy(col("id_a"), col("id_b"))
  }

  val qDedupEditdistSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, doc_id || ':' || substring(text, 1, 11) AS title
       |  FROM documents
       |  UNION ALL
       |  SELECT doc_id + $IdOffset,
       |    'X' || substring(doc_id || ':' || substring(text, 1, 11), 2, 100)
       |  FROM documents
       |)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  levenshtein(a.title, b.title) AS dist
       |FROM t a JOIN t b ON a.doc_id < b.doc_id
       |WHERE levenshtein(a.title, b.title) <= 1
       |ORDER BY id_a, id_b""".stripMargin

  /** SimHash near-dup pairs — rows-only check. */
  def qDedupSimhash(s: SparkSession, d: String): DataFrame =
    Dedup.simhashPairs(corpusNear(s, d), maxHamming = 14, numBands = 8)
      .orderBy(col("id_a"), col("id_b"))

  /** N-gram Jaccard near-dup pairs — EXACT (prefix-filtered set-
    * similarity join, recall 1.0), so the oracle replays the whole
    * operator in DuckDB: same tokenization, same sorted distinct
    * 3-shingle sets, a recall-1 candidate rule, and the identical exact
    * Jaccard verification. Both engines output precisely {pairs with
    * J ≥ 0.8}, independent of each side's candidate-generation details. */
  def qDedupNgram(s: SparkSession, d: String): DataFrame =
    Dedup.ngramJaccardPairs(corpusNear(s, d), k = 3, minJaccard = 0.8)
      .orderBy(col("id_a"), col("id_b"))

  /** The near-dup corpus as a DuckDB CTE (twin of [[corpusNear]]). */
  private val nearCorpusCte: String =
    s"""corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + $IdOffset,
       |    array_to_string(list_slice(string_split_regex(lower(trim(text)), '\\s+'), 2, 100000), ' ')
       |  FROM documents
       |)""".stripMargin

  /** Shared CTE chain replaying the exact ngram pipeline in DuckDB
    * over source relation `src(doc_id, text)`, up to a
    * `${pfx}pairs(id_a, id_b, jaccard)` relation — the base for the
    * pair, cluster, curation, and paragraph-excision oracles. `thr` is
    * the Jaccard threshold literal (the paragraph tier runs at 0.7);
    * `pfx` namespaces the CTEs so one query can run the chain at two
    * grains (the release manifest runs paragraph-0.7 AND doc-0.8). */
  private[queries] def ngramPairCtes(src: String, thr: String = "0.8",
      pfx: String = ""): String =
    s"""${pfx}toksed AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM $src
       |), ${pfx}sets AS (
       |  SELECT doc_id,
       |    list_sort(list_distinct(
       |      CASE WHEN len(toks) >= 3
       |        THEN list_transform(generate_series(1, len(toks) - 2),
       |               i -> array_to_string(list_slice(toks, i, i + 2), ' '))
       |        ELSE [array_to_string(toks, ' ')] END)) AS sh
       |  FROM ${pfx}toksed
       |), ${pfx}sized AS (
       |  SELECT doc_id, sh, len(sh) AS n,
       |    len(sh) - CAST(ceil($thr * len(sh) - 1e-9) AS INT) + 1 AS plen
       |  FROM ${pfx}sets
       |), ${pfx}prefixes AS (
       |  SELECT doc_id, n, unnest(list_slice(sh, 1, plen)) AS tok FROM ${pfx}sized
       |), ${pfx}cands AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM ${pfx}prefixes a JOIN ${pfx}prefixes b ON a.tok = b.tok AND a.doc_id < b.doc_id
       |  WHERE least(a.n, b.n) >= $thr * greatest(a.n, b.n) - 1e-9
       |), ${pfx}pairs AS (
       |  SELECT c.id_a, c.id_b,
       |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
       |      / (sa.n + sb.n - len(list_intersect(sa.sh, sb.sh))) AS jaccard
       |  FROM ${pfx}cands c
       |  JOIN ${pfx}sized sa ON sa.doc_id = c.id_a
       |  JOIN ${pfx}sized sb ON sb.doc_id = c.id_b
       |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
       |      / (sa.n + sb.n - len(list_intersect(sa.sh, sb.sh))) >= $thr
       |)""".stripMargin

  /** Connected-components CTEs over a `pairs(id_a, id_b)` relation:
    * `${pfx}reach` is the recursive transitive closure; min reachable
    * label per vertex = the component keeper. `pfx` namespaces the
    * CTEs for queries that also run other chains (release manifest). */
  private[queries] def ccCtesOver(pairsRel: String,
      pfx: String = ""): String =
    s"""${pfx}sym AS (
       |  SELECT id_a AS src, id_b AS dst FROM $pairsRel
       |  UNION ALL
       |  SELECT id_b, id_a FROM $pairsRel
       |), ${pfx}reach(src, lbl) AS (
       |  SELECT DISTINCT src, src FROM ${pfx}sym
       |  UNION
       |  SELECT s.src, r.lbl FROM ${pfx}sym s JOIN ${pfx}reach r ON s.dst = r.src
       |)""".stripMargin

  private val ccCtes: String = ccCtesOver("pairs")

  val qDedupNgramSql: String =
    s"""WITH $nearCorpusCte, ${ngramPairCtes("corpus")}
       |SELECT id_a, id_b, jaccard FROM pairs
       |ORDER BY id_a, id_b""".stripMargin

  // Build-once near-dup cluster map per scale dir (same cache
  // discipline as SimilarityQueries.ivfCache: the parquet artifact
  // survives spark.catalog.clearCache(), and compute() keeps the build
  // single-flight under Verify's thread pool).
  private val ccCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]

  /** The (doc_id, component) cluster map over the near-dup corpus —
    * connected components of the exact ngram-Jaccard pair graph,
    * computed ONCE per (process, scale dir) and persisted to a scratch
    * parquet. Three downstream policies consume the same labels
    * (cluster resolution, quality-argmax keepers, leakage-safe
    * splitting); production would never re-run CC per consumer, it
    * labels the corpus snapshot once and joins the label map wherever
    * needed. Build cost is reported as `cc_cluster_build` in Bench's
    * builds section ([[graft.BuildTimes]]) so amortization stays
    * visible rather than hidden. */
  def clusterMapFor(s: SparkSession, d: String): DataFrame = {
    val path = ccCache.compute(d, (_, cached) => {
      if (cached != null &&
        java.nio.file.Files.exists(java.nio.file.Paths.get(cached))) cached
      else graft.BuildTimes.timed("cc_cluster_build") {
        val comp = Dedup.connectedComponents(
          Dedup.ngramJaccardPairs(corpusNear(s, d), k = 3, minJaccard = 0.8))
        val p = graft.TempDirs.create("graft_cc_").toString
        comp.write.mode("overwrite").parquet(p)
        p
      }
    })
    s.read.parquet(path)
  }

  /** Duplicate-cluster resolution: connected components over the exact
    * ngram pairs, labeling every clustered doc with its keeper (min
    * reachable id). Oracle-checked — the pair graph is exact and
    * deterministic, so DuckDB replays it with a recursive
    * transitive-closure CTE. Reads the shared [[clusterMapFor]]
    * artifact (the cache-miss path runs the actual CC). */
  def qDedupClusters(s: SparkSession, d: String): DataFrame =
    clusterMapFor(s, d).orderBy(col("doc_id"))

  val qDedupClustersSql: String =
    s"""WITH RECURSIVE $nearCorpusCte, ${ngramPairCtes("corpus")}, $ccCtes
       |SELECT src AS doc_id, min(lbl) AS component
       |FROM reach
       |GROUP BY src
       |ORDER BY doc_id""".stripMargin

  /** documents ∪ verbatim copy ∪ perturbed copy (distinct id offsets) —
    * the curation-pipeline corpus: verbatim copies exercise the exact
    * stage, perturbed copies the near-dup stage. */
  def corpusTriple(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    docs
      .union(docs.select((col("doc_id") + IdOffset).as("doc_id"), col("text")))
      .union(docs.select((col("doc_id") + 2 * IdOffset).as("doc_id"),
        concat_ws(" ", slice(Dedup.tokens(col("text")), 2, 100000)).as("text")))
  }

  /** Threshold chosen mid-gap in the harness score distribution
    * (nearest real score is ≥ 1.7e-4 away at sf0.1, ≥ 2e-3 at
    * sf0.01), so the two engines' ≤1e-9 float disagreement can never
    * flip a document across the gate. */
  val CurationMinQuality = 0.7171612

  /** The full curation pipeline (quality gate → exact dedup →
    * near-dup cluster resolution) over the triple corpus, emitting
    * the surviving doc ids — every stage is replayed by the DuckDB
    * oracle, so the whole composite is hash-checked end-to-end. */
  def qCuration(s: SparkSession, d: String): DataFrame =
    graft.text.Curation.curate(corpusTriple(s, d), CurationMinQuality,
      withAccounting = false)
      .survivors
      .select(col("doc_id"))
      .orderBy(col("doc_id"))

  // one persisted curation state per (process, scale dir) — the
  // artifact under test is the state round-trip + incremental pass
  private val curStateCache = new java.util.concurrent.ConcurrentHashMap[String, String]

  /** Incremental curation (Curation.incrementalCurate): day 1 curates
    * `documents` with the sketch tier and PERSISTS its SketchState to
    * parquet (digests + survivor band index — three small frames, not
    * the corpus); the delta (verbatim re-ingests ∪ perturbed near-dups
    * ∪ repeated perturbed copies) is then curated against the RELOADED
    * state. History is never re-scanned. Emits the delta survivors'
    * ids — rows-only for the driver (the minhash stage isn't
    * SQL-expressible); CurationSpec proves equality with the
    * from-scratch sketch pipeline restricted to the delta.
    *
    * Only the survivors are read, so the query calls
    * `Curation.incrementalSurvivors` — the same survivors without the
    * state append `incrementalCurate` would cut and this query would
    * discard — and reloads the state through `Tables.parquet`, whose
    * schema memo spares each call the three footer-read jobs. */
  // single-flight day-1 state build shared by the incremental query and
  // its bounds gate (the gate's scratch leg needs only the artifact, so
  // hoisting this lets the two legs run concurrently)
  private def curationStateDir(docs: DataFrame, d: String): String =
    curStateCache.computeIfAbsent(d, _ =>
      graft.BuildTimes.timed("curation_state_build") {
        val p = graft.TempDirs.create("graft_curstate_").toString
        val day1 = graft.text.Curation.curateSketch(docs, CurationMinQuality,
          withAccounting = false)
        day1.state.digests.write.mode("overwrite").parquet(s"$p/digests")
        day1.state.bands.write.mode("overwrite").parquet(s"$p/bands")
        day1.state.sets.write.mode("overwrite").parquet(s"$p/sets")
        p
      })

  def qCurationIncremental(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    graft.text.Curation.incrementalSurvivors(curationState(docs, d),
        curationDelta(docs), CurationMinQuality, withAccounting = false)
      .survivors
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }

  /** The day-1 [[graft.text.Curation.SketchState]] of `docs`, reloaded
    * from its parquet artifact as [[qCurationIncremental]] reads it. */
  private[graft] def curationState(docs: DataFrame, d: String)
      : graft.text.Curation.SketchState = {
    val s = docs.sparkSession
    val dir = curationStateDir(docs, d)
    graft.text.Curation.SketchState(
      Tables.parquet(s, s"$dir/digests"),
      Tables.parquet(s, s"$dir/bands"),
      Tables.parquet(s, s"$dir/sets"))
  }

  /** The day-2 delta of the incremental-curation fixture: verbatim
    * re-ingests (die at exact dedup), perturbed near-dups and their
    * repeats (die at the sketch tier), and token-reversed docs —
    * genuinely NEW content (shingles are order-sensitive), the rows
    * that must SURVIVE. Shared by the registered query and its
    * equivalence-bounds oracle row. */
  private[graft] def curationDelta(docs: DataFrame): DataFrame = {
    val perturbed = docs.select((col("doc_id") + 2 * IdOffset).as("doc_id"),
      concat_ws(" ", slice(Dedup.tokens(col("text")), 2, 100000)).as("text"))
    val reversed = docs.select((col("doc_id") + 4 * IdOffset).as("doc_id"),
      concat_ws(" ", reverse(Dedup.tokens(col("text")))).as("text"))
    docs.select((col("doc_id") + IdOffset).as("doc_id"), col("text"))
      .union(perturbed)
      .union(perturbed.select((col("doc_id") + IdOffset).as("doc_id"), col("text")))
      .union(reversed)
  }

  /** Equivalence-bounds oracle row for [[qCurationIncremental]] — the
    * q_contamination_incremental contract for the full curation
    * pipeline: the incremental pass against the RELOADED SketchState
    * must emit exactly the delta survivors a from-scratch sketch run
    * over (day-1 survivors ∪ delta) emits — CurationSpec's assertion,
    * now a driver row. Day-1 survivors reconstruct from the persisted
    * state itself (the sets frame's doc ids ARE the survivor set —
    * the artifact a production pipeline would read back, not a
    * re-curation). Second fact: only the token-reversed docs (id ≥
    * 4·offset, the genuinely novel content) may survive. Fail-closed
    * on `delta_survivors_found`. History ids precede delta ids, so
    * batch min-id keepers agree with incremental by construction.
    * Two full curation passes (incremental + scratch) make this the
    * bench's most expensive row BY DESIGN — that is the oracle
    * tier's price, and exactly why the registered incremental query
    * alone is the 100 TB path. */
  def qCurationIncBounds(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    // force the single-flight day-1 state build BEFORE the fork: it is
    // the only artifact the two legs share
    val dir = curationStateDir(docs, d)
    // the gate's price is two full curation pipelines BY DESIGN
    // (incremental + from-scratch); they are independent given the
    // persisted state, so the legs run concurrently per guide §2.6 —
    // each pipeline is a string of small eager checkpoints that leaves
    // most cores idle, which the other leg back-fills
    val Seq((inc, nInc), (full, _)) =
      graft.ops.Par.eagerly[(DataFrame, Long)](
        () => {
          val i = qCurationIncremental(s, d)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          (i, i.count())
        },
        () => {
          val day1Survivors = docs.join(
            s.read.parquet(s"$dir/sets").select(col("doc_id")).distinct(),
            Seq("doc_id"), "left_semi")
          val f = graft.text.Curation.curateSketch(
              day1Survivors.union(curationDelta(docs)), CurationMinQuality,
              withAccounting = false)
            .survivors.select(col("doc_id")).filter(col("doc_id") >= IdOffset)
          (f, 0L) // survivors are already eagerly cut inside curateSketch
        })
    try {
      // independent readouts over persisted frames — concurrent per
      // guide §2.6; the diff is the ±1-weighted groupBy spelling
      // (graft.ops.Diff scaladoc; "== 0" is spelling-invariant)
      val Seq(diff, nonNovel) = graft.ops.Par.eagerly(
        () => graft.ops.Diff.symDiffCount(inc, full),
        () => inc.filter(col("doc_id") < 4 * IdOffset).count())
      import s.implicits._
      Seq(("curation_inc", nInc > 0, nonNovel == 0L, diff == 0L))
        .toDF("tier", "delta_survivors_found", "only_novel_content_survives",
          "inc_matches_scratch")
    } finally { inc.unpersist(); () }
  }

  val qCurationIncBoundsSql: String =
    // property-gate twin: literal expected frame, NOT a recomputation
    """SELECT * FROM (VALUES ('curation_inc', true, true, true))
      |  t(tier, delta_survivors_found, only_novel_content_survives,
      |    inc_matches_scratch)""".stripMargin

  /** The quality-gate CTE shared by the curation and release-manifest
    * twins: `out AS (SELECT cols FROM src WHERE quality_score >= thr)`
    * with the composite score replayed inline ([[qCurationSql]]'s
    * proven spelling). `cols` must not collide with the signal names
    * (n_tokens, alpha_ratio, punct_ratio, stopword_ratio,
    * quality_score). */
  private[queries] def qualityGateCte(src: String, out: String,
      cols: String): String = {
    val stop = graft.text.TextAnalysis.langProfiles.flatMap(_._2).distinct
      .map(w => s"'$w'").mkString("[", ", ", "]")
    s"""$out AS MATERIALIZED (
       |  SELECT $cols FROM (
       |    SELECT $cols,
       |      CASE WHEN length(trim(text)) = 0 THEN 0
       |           ELSE len(string_split_regex(lower(trim(text)), '\\s+')) END AS n_tokens,
       |      CASE WHEN length(text) > 0
       |           THEN CAST(length(regexp_replace(text, '[^\\p{L}]', '', 'g')) AS DOUBLE) / length(text)
       |           ELSE 0.0 END AS alpha_ratio,
       |      CASE WHEN length(text) > 0
       |           THEN CAST(length(regexp_replace(text, '[^\\p{P}\\p{S}]', '', 'g')) AS DOUBLE) / length(text)
       |           ELSE 0.0 END AS punct_ratio,
       |      CASE WHEN n_tokens > 0
       |           THEN CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
       |                      t -> list_contains($stop, t))) AS DOUBLE) / n_tokens
       |           ELSE 0.0 END AS stopword_ratio,
       |      least(1.0, greatest(0.0,
       |        0.25 * least(CAST(n_tokens AS DOUBLE) / 20.0, 1.0)
       |        + 0.25 * alpha_ratio
       |        + 0.25 * (1.0 - punct_ratio)
       |        + 0.25 * least(stopword_ratio * 5.0, 1.0))) AS quality_score
       |    FROM $src)
       |  WHERE quality_score >= $CurationMinQuality
       |)""".stripMargin
  }

  val qCurationSql: String = {
    s"""WITH RECURSIVE corpus3 AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + $IdOffset, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + ${2 * IdOffset},
       |    array_to_string(list_slice(string_split_regex(lower(trim(text)), '\\s+'), 2, 100000), ' ')
       |  FROM documents
       |), ${qualityGateCte("corpus3", "scored", "doc_id, text")}, keepers AS (
       |  SELECT min(doc_id) AS doc_id FROM scored GROUP BY text
       |), exact AS (
       |  SELECT s.doc_id, s.text FROM scored s JOIN keepers k ON s.doc_id = k.doc_id
       |), ${ngramPairCtes("exact")}, $ccCtes,
       |nonkeepers AS (
       |  SELECT src AS doc_id FROM reach GROUP BY src HAVING min(lbl) <> src
       |)
       |SELECT doc_id FROM exact
       |WHERE doc_id NOT IN (SELECT doc_id FROM nonkeepers)
       |ORDER BY doc_id""".stripMargin
  }

  /** Leakage-safe train/val/test split — the assignment op every
    * training pipeline needs BETWEEN dedup and training: a plain
    * per-document hash split leaks near-duplicates across the
    * train/eval boundary (the eval twin of a train doc inflates the
    * score exactly like verbatim contamination). Here the split key is
    * the document's near-dup CLUSTER KEEPER (connected-component min
    * over the ngram-Jaccard pair graph; unpaired docs keep themselves),
    * so an entire near-dup cluster lands on ONE side — by construction
    * no pair straddles the boundary. The 80/10/10 bucket comes from the
    * same portable multiplicative hash as the sampling tier, so the
    * assignment is a pure function of the data, reproducible across
    * engines (hash-oracled) and cluster layouts. Scale shape: the pair
    * graph + CC the dedup tier already pays, one left join, and a
    * per-row integer hash — no extra shuffle beyond CC itself. */
  def qLeakageSafeSplit(s: SparkSession, d: String): DataFrame = {
    val corpus = corpusNear(s, d)
    val comp = clusterMapFor(s, d)
    val bucket = pmod(graft.ops.DomainMix.portableBucket(col("keeper")), lit(10L))
    corpus.select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("keeper"))
      .withColumn("split",
        when(bucket < 8, "train").when(bucket === 8, "val").otherwise("test"))
      .orderBy(col("doc_id"))
  }

  val qLeakageSafeSplitSql: String =
    s"""WITH RECURSIVE $nearCorpusCte, ${ngramPairCtes("corpus")}, $ccCtes,
       |comp AS (
       |  SELECT src AS doc_id, min(lbl) AS component FROM reach GROUP BY src
       |), keyed AS (
       |  SELECT c.doc_id, coalesce(k.component, c.doc_id) AS keeper
       |  FROM corpus c LEFT JOIN comp k ON c.doc_id = k.doc_id
       |)
       |SELECT doc_id, keeper,
       |  CASE WHEN ((keeper % 1000003) * 2654435761) % 1000000 % 10 < 8 THEN 'train'
       |       WHEN ((keeper % 1000003) * 2654435761) % 1000000 % 10 = 8 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM keyed
       |ORDER BY doc_id""".stripMargin

  /** Repeated 8-token spans across the near-dup corpus — the
    * substring-level tier ([[Dedup.repeatedSpans]]): the perturbed copy
    * shares every span of its source except those touching the dropped
    * first token, so the oracle exercises real cross-document span
    * structure, not incidental collisions. Hash-checked end to end
    * (same tokenization, same window rule, same distinct-doc
    * threshold on both engines). */
  def qSpanDedup(s: SparkSession, d: String): DataFrame =
    Dedup.repeatedSpans(
      graft.ops.Spread.perRow(corpusNear(s, d), col("doc_id")),
      k = 8, minDocs = 2)
      .orderBy(col("span"))

  val qSpanDedupSql: String =
    s"""WITH $nearCorpusCte, toks AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '') AS toks
       |  FROM corpus
       |), spans AS (
       |  SELECT doc_id, array_to_string(list_slice(toks, i, i + 7), ' ') AS span
       |  FROM toks, unnest(generate_series(1, len(toks) - 7)) AS u(i)
       |  WHERE len(toks) >= 8
       |)
       |SELECT span, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occurrences
       |FROM spans
       |GROUP BY span
       |HAVING count(DISTINCT doc_id) >= 2
       |ORDER BY span""".stripMargin

  // ------------------------------------------------ Span provenance
  /** Cross-document span provenance ([[Dedup.spanProvenance]]) — the
    * attribution half of [[qSpanDedup]]: for every 8-token span
    * repeated across documents of the REAL corpus (the harness's tiny
    * vocabulary makes natural cross-doc spans plentiful — 1k–10k per
    * SF), the first document that contained it (min doc id = ingestion
    * order) and that document's source — the readout a dedup pipeline
    * publishes so removals are attributable.
    *
    * Scale shape: one linear span explode + ONE grouped aggregation;
    * the arg-min is a partial-aggregable `min(struct(id, source))`,
    * never a window. No float anywhere. */
  def qSpanProvenance(s: SparkSession, d: String): DataFrame =
    Dedup.spanProvenance(graft.ops.Spread.perRow(Tables.documents(s, d)
        .select(col("doc_id"), col("text"), col("source")), col("doc_id")))
      .orderBy(col("span"))

  private val docSpansCte: String =
    """toks AS (
      |  SELECT doc_id, source,
      |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |                t -> t <> '') AS toks
      |  FROM documents
      |), spans AS (
      |  SELECT doc_id, source,
      |    array_to_string(list_slice(toks, i, i + 7), ' ') AS span
      |  FROM toks, unnest(generate_series(1, len(toks) - 7)) AS u(i)
      |  WHERE len(toks) >= 8
      |)""".stripMargin

  val qSpanProvenanceSql: String =
    s"""WITH $docSpansCte
       |SELECT span, count(DISTINCT doc_id) AS n_docs,
       |  count(*) AS n_occurrences,
       |  min(doc_id) AS first_doc,
       |  arg_min(source, doc_id) AS first_source
       |FROM spans
       |GROUP BY span
       |HAVING count(DISTINCT doc_id) >= 2
       |ORDER BY span""".stripMargin

  /** Duplicated-span excision ([[Dedup.spanExcise]]) — the ExactSubstr
    * REWRITE downstream of [[qSpanDedup]]/[[qSpanProvenance]]: every
    * non-first occurrence of a cross-doc repeated 8-token span is
    * removed (greedy leftmost, non-overlapping) and the cleaned corpus
    * is emitted with exact token accounting. Runs on the real
    * documents table (the same natural cross-doc span structure the
    * provenance row reads — 100s–1000s of excisions per SF).
    *
    * Hash-green end to end: the DuckDB twin replays the span CTE, the
    * first-owner rule, the greedy selection (a recursive CTE whose
    * per-doc min strictly increases — the sequential scan spelled
    * relationally), and the reassembly; `SpanExciseSpec` additionally
    * pins planted-duplicate behavior (excised everywhere but the
    * provenance doc, byte-identical non-duplicated text, exact
    * accounting). All integers + string concat — no float class. */
  def qSpanExcise(s: SparkSession, d: String): DataFrame =
    Dedup.spanExcise(graft.ops.Spread.perRow(Tables.documents(s, d)
        .select(col("doc_id"), col("text")), col("doc_id")))
      .orderBy(col("doc_id"))

  val qSpanExciseSql: String =
    """WITH RECURSIVE toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |                             t -> t <> '') AS toks
      |  FROM documents
      |), spans AS (
      |  SELECT doc_id, i, array_to_string(list_slice(toks, i, i + 7), ' ') AS span
      |  FROM toks, unnest(generate_series(1, len(toks) - 7)) AS u(i)
      |  WHERE len(toks) >= 8
      |), sa AS (
      |  SELECT span, min(doc_id) AS first_doc
      |  FROM spans GROUP BY span HAVING count(DISTINCT doc_id) >= 2
      |), removable AS (
      |  SELECT s.doc_id, s.i FROM spans s JOIN sa USING (span)
      |  WHERE s.doc_id <> sa.first_doc
      |), sel AS (
      |  SELECT doc_id, min(i) AS i FROM removable GROUP BY doc_id
      |  UNION ALL
      |  SELECT r.doc_id, min(r.i) AS i FROM removable r JOIN sel s USING (doc_id)
      |  WHERE r.i >= s.i + 8 GROUP BY r.doc_id
      |), kept AS (
      |  SELECT t.doc_id, u.p, t.toks[u.p] AS tok
      |  FROM toks t, unnest(generate_series(1, len(t.toks))) AS u(p)
      |  WHERE NOT EXISTS (SELECT 1 FROM sel s
      |                    WHERE s.doc_id = t.doc_id AND u.p >= s.i AND u.p < s.i + 8)
      |), reassembled AS (
      |  SELECT doc_id, count(*) AS n_kept,
      |         string_agg(tok, ' ' ORDER BY p) AS text_clean
      |  FROM kept GROUP BY doc_id
      |), nsel AS (
      |  SELECT doc_id, count(*) AS n_excised FROM sel GROUP BY doc_id
      |)
      |SELECT t.doc_id,
      |  CAST(len(t.toks) AS BIGINT) AS n_tokens,
      |  CAST(coalesce(ns.n_excised, 0) AS BIGINT) AS n_spans_excised,
      |  CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_tokens_clean,
      |  coalesce(r.text_clean, '') AS text_clean
      |FROM toks t
      |LEFT JOIN nsel ns USING (doc_id)
      |LEFT JOIN reassembled r USING (doc_id)
      |ORDER BY t.doc_id""".stripMargin

  /** Per-source copied fraction — the source-grain rollup of
    * [[qSpanProvenance]]: an occurrence is COPIED when its span is
    * duplicated (≥ 2 docs) and this occurrence is not in the span's
    * first-seen document; each source reports its copied share of
    * total span occurrences — the "who copies whom" summary a crawl
    * curation report leads with.
    *
    * Scale shape: the occurrence frame is localCheckpoint'ed ONCE
    * (it feeds both the span aggregate and the join-back — the r12
    * shared-subframe lesson); the join-back co-partitions on the span
    * key, the same shuffle class the aggregate already paid; the
    * readout frame is |sources|-bounded. copied_fraction is ONE
    * terminal division of exact counts. */
  def qSourceCopyFraction(s: SparkSession, d: String): DataFrame = {
    val occ = Dedup.spanOccurrences(
      graft.ops.Spread.perRow(Tables.documents(s, d)
        .select(col("doc_id"), col("text"), col("source")), col("doc_id")),
      carry = Seq("source")).localCheckpoint()
    val spanAgg = occ.groupBy(col("span"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("first_doc"))
    occ.join(spanAgg, Seq("span"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_span_occurrences"),
        count(when(col("n_docs") >= 2 && col("doc_id") =!= col("first_doc"),
          lit(1))).as("n_copied"))
      .select(col("source"), col("n_span_occurrences"), col("n_copied"),
        (col("n_copied").cast("double") / col("n_span_occurrences"))
          .as("copied_fraction"))
      .orderBy(col("source"))
  }

  val qSourceCopyFractionSql: String =
    s"""WITH $docSpansCte, sp AS (
       |  SELECT span, count(DISTINCT doc_id) AS n_docs,
       |    min(doc_id) AS first_doc
       |  FROM spans GROUP BY span
       |)
       |SELECT source, count(*) AS n_span_occurrences,
       |  count(*) FILTER (n_docs >= 2 AND doc_id <> first_doc) AS n_copied,
       |  CAST(count(*) FILTER (n_docs >= 2 AND doc_id <> first_doc)
       |       AS DOUBLE) / count(*) AS copied_fraction
       |FROM spans JOIN sp USING (span)
       |GROUP BY source
       |ORDER BY source""".stripMargin

  // -------------------------------------------- Source similarity matrix
  /** Exact pairwise source-overlap matrix — the "who mirrors whom"
    * readout a crawl curation report leads with (and the corpus-level
    * screen run BEFORE doc-level dedup: two sources with high
    * containment are mirror candidates; dedup budgets go there first):
    * per unordered source pair, the EXACT 3-token-shingle-set overlap,
    * Jaccard, and containment (overlap / smaller set — the asymmetric
    * mirror signal Jaccard dilutes when sizes differ).
    *
    * Scale shape: one linear shingle explode to the DISTINCT
    * (source, shingle) frame, localCheckpoint'ed ONCE (it feeds the
    * size aggregate and BOTH sides of the pair join); the self-join is
    * equi-keyed on the shingle with per-key fan-out bounded by
    * C(sources-holding-it, 2) ≤ C(|sources|, 2) — sources are a
    * DIMENSION, so candidate volume is linear in distinct shingles
    * with a dimension-bounded constant. The |sources|-row size frame
    * broadcasts. Past ~10³ sources the constant bites and the
    * per-source MinHash sketch tier (q_sketch_overlap's machinery)
    * replaces the exact join, same output contract.
    *
    * Floats (class-1): set sizes and overlaps are exact integers;
    * jaccard and containment are ONE terminal division each. */
  /** The distinct (source, shingle) frame both source-similarity
    * tiers derive from — ONE definition so the exact join and the
    * sketch tier cannot drift (checkpointed by each caller). */
  private def sourceShingles(s: SparkSession, d: String): DataFrame = {
    val toks = graft.ops.Spread.perRow(Tables.documents(s, d), col("doc_id"))
      .select(col("source"),
        filter(Dedup.tokens(col("text")), t => t =!= "").as("toks"))
    toks.filter(size(col("toks")) >= 3)
      .select(col("source"), explode(expr(
        "transform(sequence(1, size(toks) - 2), " +
          "i -> concat_ws(' ', slice(toks, i, 3)))")).as("shingle"))
      .distinct()
  }

  def qSourceSimilarity(s: SparkSession, d: String): DataFrame = {
    val sh = sourceShingles(s, d).localCheckpoint()
    val sizes = sh.groupBy(col("source")).agg(count(lit(1)).as("sz"))
    val inter = sh.select(col("source").as("source_a"), col("shingle"))
      .join(sh.select(col("source").as("source_b"),
          col("shingle").as("sh2")),
        col("shingle") === col("sh2") && col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    inter
      .join(broadcast(sizes.select(col("source").as("source_a"),
        col("sz").as("sz_a"))), Seq("source_a"))
      .join(broadcast(sizes.select(col("source").as("source_b"),
        col("sz").as("sz_b"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_shared"),
        col("sz_a"), col("sz_b"),
        (col("n_shared").cast("double") /
          (col("sz_a") + col("sz_b") - col("n_shared"))).as("jaccard"),
        (col("n_shared").cast("double") / least(col("sz_a"), col("sz_b")))
          .as("containment"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val qSourceSimilaritySql: String =
    """WITH toks AS (
      |  SELECT doc_id, source,
      |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |                t -> t <> '') AS toks
      |  FROM documents
      |), sh AS (
      |  SELECT DISTINCT source,
      |    array_to_string(list_slice(toks, i, i + 2), ' ') AS shingle
      |  FROM toks, unnest(generate_series(1, len(toks) - 2)) AS u(i)
      |  WHERE len(toks) >= 3
      |), sizes AS (
      |  SELECT source, count(*) AS sz FROM sh GROUP BY source
      |), inter AS (
      |  SELECT a.source AS source_a, b.source AS source_b,
      |         count(*) AS n_shared
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
      |  GROUP BY 1, 2
      |)
      |SELECT source_a, source_b, n_shared, sa.sz AS sz_a, sb.sz AS sz_b,
      |  CAST(n_shared AS DOUBLE) / (sa.sz + sb.sz - n_shared) AS jaccard,
      |  CAST(n_shared AS DOUBLE) / least(sa.sz, sb.sz) AS containment
      |FROM inter
      |JOIN sizes sa ON sa.source = source_a
      |JOIN sizes sb ON sb.source = source_b
      |ORDER BY source_a, source_b""".stripMargin

  /** MinHash components per source-similarity signature. 64 keeps the
    * one-permutation estimator's std error ≤ √(J(1−J)/64) ≤ 0.0625
    * while the signature table stays |sources| × 64 longs. */
  val SourceSigK = 64

  /** The sketch tier of [[qSourceSimilarity]] — the r14 scaladoc's
    * "past ~10³ sources the per-source MinHash sketch replaces the
    * exact join" wired as a real query (the curriculum-approx
    * discipline: scale paths are queries, not doc sentences). Each
    * source gets a 64-component MinHash signature computed in ONE
    * partial-aggregable groupBy over the shared [[sourceShingles]]
    * frame (64 `min(xxhash64(shingle, i))` aggregates — no row
    * fan-out, no second shingle derivation), and estimated Jaccard =
    * matching components / 64 over the |sources|-row signature
    * cross-compare. The corpus-proportional cost is ONE pass
    * regardless of |sources|; the pair stage touches only the
    * dimension-bounded signature table (at 10⁴ sources: 5·10⁷ in-row
    * comparisons of 64 longs — no shingle join at all), which is
    * exactly what replaces the exact tier's C(sources-per-shingle, 2)
    * join when the dimension stops being small.
    *
    * Rows-only by the fingerprint precedent (xxhash64 has no DuckDB
    * twin); gated by [[qSourceSimilaritySketchBounds]] against the
    * exact matrix. */
  def qSourceSimilaritySketch(s: SparkSession, d: String): DataFrame = {
    val sh = sourceShingles(s, d)
    val sig = sh.groupBy(col("source"))
      .agg(min(xxhash64(col("shingle"), lit(1))).as("h1"),
        (2 to SourceSigK).map(i =>
          min(xxhash64(col("shingle"), lit(i))).as(s"h$i")): _*)
      .localCheckpoint(true)
    val a = sig.select(col("source").as("source_a") +:
      (1 to SourceSigK).map(i => col(s"h$i").as(s"a$i")): _*)
    val b = sig.select(col("source").as("source_b") +:
      (1 to SourceSigK).map(i => col(s"h$i").as(s"b$i")): _*)
    val matches = (1 to SourceSigK).map(i =>
      when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
      .reduce(_ + _)
    a.join(b, col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"),
        matches.cast("long").as("n_matching"),
        (matches.cast("double") / lit(SourceSigK)).as("jaccard_est"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Fail-closed gate for the sketch tier vs the exact matrix: the
    * estimate grid is the COMPLETE C(|sources|,2) pair set (the
    * signature compare sees every pair, unlike the exact join which
    * only emits overlapping ones — absent exact rows read J = 0),
    * every estimate is a valid k/64 rational in [0,1], and the
    * one-permutation MinHash error contract holds end-to-end:
    * max |est − exact| over all pairs ≤ 0.2 (3.2σ at K = 64; measured
    * max 0.084 at sf0.001 and 0.172 at sf0.1 — and the estimator is a
    * DETERMINISTIC function of the fixed hash family, so the measured
    * worst case is exact and reproducible, not a draw). */
  def qSourceSimilaritySketchBounds(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val est = qSourceSimilaritySketch(s, d)
      .select(col("source_a"), col("source_b"), col("jaccard_est"))
    val exact = qSourceSimilarity(s, d)
      .select(col("source_a"), col("source_b"), col("jaccard"))
    // the grid is complete over sources that OWN a signature (≥ one
    // 3-token document) — counting raw document sources would
    // false-fail the gate whenever a source has only sub-3-token
    // docs, which both tiers consistently exclude (r15 review)
    val nSources = sourceShingles(s, d)
      .select(col("source")).distinct().count()
    val expectedPairs = nSources * (nSources - 1) / 2
    val joined = est.join(exact, Seq("source_a", "source_b"), "left")
      .select(col("jaccard_est"),
        coalesce(col("jaccard"), lit(0.0)).as("jaccard"))
      .agg(count(lit(1)).as("n"),
        max(abs(col("jaccard_est") - col("jaccard"))).as("max_err"),
        count(when(col("jaccard_est") < 0 || col("jaccard_est") > 1, 1))
          .as("oor"))
      .head()
    // empty estimate frame → NULL max_err: read 1.0 (fails the band)
    // rather than NPE before the fail-closed rows build
    val (n, maxErr, oor) = (joined.getLong(0),
      if (joined.isNullAt(1)) 1.0 else joined.getDouble(1),
      joined.getLong(2))
    val ok = n > 0 && nSources > 1
    Seq(
      ("estimates_in_range", ok && oor == 0L),
      ("max_error_within_3sigma", ok && maxErr <= 0.2),
      ("pair_grid_complete", ok && n == expectedPairs))
      .toDF("check", "within_bounds")
      .orderBy(col("check"))
  }

  val qSourceSimilaritySketchBoundsSql: String =
    """SELECT * FROM (VALUES ('estimates_in_range', true),
      |  ('max_error_within_3sigma', true), ('pair_grid_complete', true))
      |  t("check", within_bounds)
      |ORDER BY "check"""".stripMargin

  /** Quality-based cluster keeper selection — the keeper POLICY
    * production dedup actually wants: within each near-dup cluster,
    * keep the HIGHEST-QUALITY member (ties by min id), not the
    * smallest id. A crawl's best copy of a page is rarely the first
    * one ingested; min-id keeper silently prefers ingestion order.
    * Scale shape: the CC labels the dedup tier already pays, one join
    * to the per-doc quality signal, and one grouped arg-max
    * (`max(struct(q, -id))` — partial-aggregable, no window over the
    * corpus). The quality score is bit-identical across engines
    * (q_text_quality passes the strict gate unrounded), so the
    * arg-max ranks identically; rounded on output per the report
    * convention. */
  def qDedupKeeperQuality(s: SparkSession, d: String): DataFrame = {
    val corpus = corpusNear(s, d)
    val quality = graft.text.TextAnalysis.withQualitySignals(corpus)
      .select(col("doc_id"), col("quality_score").as("q"))
    val comp = clusterMapFor(s, d)
    quality.join(comp, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"), col("q"))
      .groupBy(col("component"))
      .agg(max(struct(col("q").as("q"), (-col("doc_id")).as("nid"))).as("w"),
        count(lit(1)).as("n_members"))
      .select(col("component"), (-col("w.nid")).as("keeper"),
        round(col("w.q"), 9).as("keeper_quality"), col("n_members"))
      .orderBy(col("component"))
  }

  val qDedupKeeperQualitySql: String = {
    val stop = graft.text.TextAnalysis.langProfiles.flatMap(_._2).distinct
      .map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH RECURSIVE $nearCorpusCte, ${ngramPairCtes("corpus")}, $ccCtes,
       |comp AS (
       |  SELECT src AS doc_id, min(lbl) AS component FROM reach GROUP BY src
       |), quality AS (
       |  SELECT doc_id,
       |    least(1.0, greatest(0.0,
       |      0.25 * least(CAST(n_tokens AS DOUBLE) / 20.0, 1.0)
       |      + 0.25 * alpha_ratio
       |      + 0.25 * (1.0 - punct_ratio)
       |      + 0.25 * least(stopword_ratio * 5.0, 1.0))) AS q
       |  FROM (
       |    SELECT doc_id,
       |      CASE WHEN length(trim(text)) = 0 THEN 0
       |           ELSE len(string_split_regex(lower(trim(text)), '\\s+')) END AS n_tokens,
       |      CASE WHEN length(text) > 0
       |           THEN CAST(length(regexp_replace(text, '[^\\p{L}]', '', 'g')) AS DOUBLE) / length(text)
       |           ELSE 0.0 END AS alpha_ratio,
       |      CASE WHEN length(text) > 0
       |           THEN CAST(length(regexp_replace(text, '[^\\p{P}\\p{S}]', '', 'g')) AS DOUBLE) / length(text)
       |           ELSE 0.0 END AS punct_ratio,
       |      CASE WHEN n_tokens > 0
       |           THEN CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
       |                      t -> list_contains($stop, t))) AS DOUBLE) / n_tokens
       |           ELSE 0.0 END AS stopword_ratio
       |    FROM corpus)
       |), labeled AS (
       |  SELECT q.doc_id, coalesce(c.component, q.doc_id) AS component, q.q
       |  FROM quality q LEFT JOIN comp c ON q.doc_id = c.doc_id
       |)
       |SELECT component, doc_id AS keeper, round(q, 9) AS keeper_quality, n_members
       |FROM (
       |  SELECT component, doc_id, q,
       |    count(*) OVER (PARTITION BY component) AS n_members,
       |    row_number() OVER (PARTITION BY component ORDER BY q DESC, doc_id) AS rn
       |  FROM labeled)
       |WHERE rn = 1
       |ORDER BY component""".stripMargin
  }

  /** Oracle row for the LSH dedup sketches — the property-gate
    * contract of q_approx_distinct_bounds applied to recall: the
    * MinHash and SimHash tiers must each recover their floor share of
    * the EXACT n-gram-Jaccard tier's pair set (recall 1.0 by the
    * prefix-filter theorem — the truth side is itself a hash-green
    * driver query, q_dedup_ngram). Both sketches are hash-seeded with
    * no RNG, so the measured recalls are reproducible corpus
    * properties, not distribution tails; floors 0.98 / 0.95 re-state
    * DedupSpec's sf0.1 measurement with regeneration headroom. The
    * truth_nonempty guard fails closed: an empty truth set (corpus
    * drift) reads false rather than vacuous-true. DuckDB twin =
    * literal expected frame; the hash proves the verdicts. */
  def qDedupSketchRecallBounds(s: SparkSession, d: String): DataFrame = {
    // eager cut (not a lazy persist): three pair pipelines fork off
    // this frame concurrently below, and a lazy cache would race its
    // own materialization across the pool (the Par scaladoc caveat)
    val corpus = corpusNear(s, d).localCheckpoint(true)
    // the exact PPJoin truth set (consumed three times: the count +
    // one semi-join per sketch tier) and the TWO sketch screens are
    // independent pipelines over the cut corpus — fork all three per
    // guide §2.6 instead of serializing the truth cut before the
    // sketch jobs
    val Seq(truth, mhPairs, shPairs) = graft.ops.Par.eagerly[DataFrame](
      () => Dedup.ngramJaccardPairs(corpus, k = 3, minJaccard = 0.8)
        .select(col("id_a"), col("id_b"))
        .localCheckpoint(true),
      () => Dedup.minhashPairs(corpus)
        .select(col("id_a"), col("id_b"))
        .localCheckpoint(true),
      () => Dedup.simhashPairs(corpus, maxHamming = 14, numBands = 8)
        .select(col("id_a"), col("id_b"))
        .localCheckpoint(true))
    def hitsOf(pairs: DataFrame): Long =
      truth.join(pairs, Seq("id_a", "id_b"), "left_semi").count()
    // three independent readouts over the eagerly cut pair sets
    val Seq(nTruth, mhHits, shHits) = graft.ops.Par.eagerly(
      () => truth.count(),
      () => hitsOf(mhPairs),
      () => hitsOf(shPairs))
    def recallOf(hits: Long): Double =
      if (nTruth == 0) 0.0 else hits.toDouble / nTruth
    val mh = recallOf(mhHits)
    val sh = recallOf(shHits)
    import s.implicits._
    Seq(("minhash", nTruth > 0, mh >= 0.98),
        ("simhash", nTruth > 0, sh >= 0.95))
      .toDF("tier", "truth_nonempty", "recall_ok")
      .orderBy(col("tier"))
  }

  val qDedupSketchRecallBoundsSql: String =
    // property-gate twin: literal expected frame, NOT a recomputation
    """SELECT * FROM (VALUES ('minhash', true, true),
      |  ('simhash', true, true)) t(tier, truth_nonempty, recall_ok)
      |ORDER BY tier""".stripMargin

  // ------------------------------------------ Paragraph-grain dedup
  /** Fixture for the paragraph tier: every group of 4 consecutive doc
    * ids shares one BOILERPLATE paragraph — the group leader's (id ≡ 0
    * mod 4) first 48 tokens appended to every member (leader included)
    * as a newline-delimited second paragraph. Documents stay globally
    * distinct (whole-doc Jaccard across members stays low) while the
    * planted paragraph is an exact cross-doc duplicate — Gopher
    * §A1.2's boilerplate geometry, the grain q_span_dedup (verbatim
    * 8-token spans) and q_dedup_minhash (whole docs) both miss. Groups
    * with no leader or a blank leader keep their original text. The
    * group key is id-local (div 4), so the soak's variant-strided
    * corpora keep groups intra-variant and ground truth linear. */
  private[graft] def paraCorpus(s: SparkSession, d: String): DataFrame = {
    // source rides along untouched — the release manifest's mix stage
    // reads it; the paragraph members ignore it
    val docs = graft.ops.Spread.perRow(Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("text")), col("doc_id"))
    val donated = docs.filter(col("doc_id") % 4 === 0)
      .select(expr("doc_id div 4").as("g"),
        concat_ws(" ", slice(split(col("text"), " "), 1, 48)).as("boiler"))
    docs.withColumn("g", expr("doc_id div 4"))
      .join(donated, Seq("g"), "left")
      .select(col("doc_id"), col("source"),
        when(col("boiler").isNotNull && length(col("boiler")) > 0,
          concat(col("text"), lit("\n"), col("boiler")))
          .otherwise(col("text")).as("text"))
  }

  /** Inter-document paragraph near-dedup
    * ([[graft.text.Dedup.paragraphDupStats]]) over the boilerplate
    * fixture: per document, how many of its newline-delimited
    * paragraphs are near-duplicated (J ≥ 0.7, banded MinHash + exact
    * verify) in ANOTHER document, and the duplicated fraction.
    * Rows-only (LSH band layout, the q_dedup_minhash adjudication);
    * driver-visible guarantees are [[qDedupParagraphsBounds]]'s
    * recall floor and planted-boilerplate completeness. */
  def qDedupParagraphs(s: SparkSession, d: String): DataFrame =
    graft.text.Dedup.paragraphDupStats(paraCorpus(s, d))
      .orderBy(col("doc_id"))

  /** Fail-closed gate for the paragraph tier (the
    * [[qDedupSketchRecallBounds]] pattern): (1) the exact paragraph-
    * Jaccard truth set (PPJoin at J ≥ 0.7 over the same paragraph
    * frame, cross-doc only) is non-empty; (2) the banded tier recovers
    * ≥ 0.95 of it; (3) every member of a complete group (leader with a
    * ≥ 3-token boilerplate, ≥ 2 members) reports at least one
    * duplicated paragraph. */
  def qDedupParagraphsBounds(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val P = graft.text.Dedup.ParasPerDoc
    def crossDoc(f: DataFrame): DataFrame =
      f.filter(expr(s"id_a div $P") =!= expr(s"id_b div $P"))
    // three INDEPENDENT legs fork per guide §2.6: (A) the exact-tier
    // truth set read off the persisted fixture pairs (the r19
    // gate-cost lesson: this gate and the excise members share ONE
    // exact PPJoin generation per process — see paraExciseDir);
    // (B) the banding pipeline + its band-occupancy ceiling (r19
    // verdict directive 7: the PARAS soak measured max bucket <= 25
    // across p = 2..60; pin the <= 64 ceiling — the ER-blocking
    // precedent — so a fixture or banding change that manufactures a
    // hot band fails closed here instead of silently going quadratic
    // in the band self-join); (C) the eligible-doc frame for planted
    // completeness.
    val Seq((truth, nTruth), (banded, maxBucket), (eligible, nEligible)) =
      graft.ops.Par.eagerly[(DataFrame, Long)](
        () => {
          val t = crossDoc(s.read.parquet(s"${paraExciseDir(s, d)}/pairs"))
            .select(col("id_a"), col("id_b")).localCheckpoint(true)
          (t, t.count())
        },
        () => {
          val corpus = paraCorpus(s, d).select(col("doc_id"), col("text"))
            .localCheckpoint(true)
          val paras = graft.text.Dedup.paragraphFrame(corpus)
          val (bands, sets, mhHandle) = graft.text.Dedup
            .minhashIndexWithHandle(paras, textCol = "para", idCol = "uid")
          val b = crossDoc(graft.text.Dedup.minhashPairsFromIndex(
              bands, sets, maxJaccardDist = 0.3, idCol = "uid"))
            .select(col("id_a"), col("id_b")).localCheckpoint(true)
          val mb = bands.groupBy(col("band"), col("key"))
            .agg(count(lit(1)).as("n"))
            .agg(coalesce(max(col("n")), lit(0L))).head().getLong(0)
          mhHandle.unpersist()
          (b, mb)
        },
        () => {
          val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
            .localCheckpoint(true)
          val groups = docs.select(expr("doc_id div 4").as("g"))
            .groupBy(col("g")).agg(count(lit(1)).as("members"))
          val leaders = docs.filter(col("doc_id") % 4 === 0)
            .select(expr("doc_id div 4").as("g"),
              size(split(col("text"), " ")).as("ltoks"))
          val e = docs.select(col("doc_id"), expr("doc_id div 4").as("g"))
            .join(groups.filter(col("members") >= 2), Seq("g"))
            .join(leaders.filter(col("ltoks") >= 3), Seq("g"))
            .select(col("doc_id"))
            .localCheckpoint(true) // consumed twice: count + anti-join
          (e, e.count())
        })
    // two independent readouts over the eagerly cut legs; planted
    // completeness reads off the banded pairs already in hand (a doc
    // with >= 1 duplicated paragraph is a doc whose uid appears on
    // either side) — re-running qDedupParagraphs would pay the whole
    // banding pipeline a second time for the same information
    val dupDocs = banded.select(expr(s"id_a div $P").as("doc_id"))
      .unionByName(banded.select(expr(s"id_b div $P").as("doc_id")))
      .distinct()
    val Seq(hit, unflagged) = graft.ops.Par.eagerly(
      () => truth.join(banded, Seq("id_a", "id_b"), "left_semi").count(),
      () => eligible.join(dupDocs, Seq("doc_id"), "left_anti").count())
    val recall = if (nTruth == 0) 0.0 else hit.toDouble / nTruth
    val ok = nTruth > 0 && nEligible > 0
    Seq(
      ("band_bucket_ceiling", ok && maxBucket > 0L && maxBucket <= 64L),
      ("planted_boilerplate_all_flagged", ok && unflagged == 0L),
      ("recall_floor_vs_exact_tier", ok && recall >= 0.95),
      ("truth_nonempty", ok))
      .toDF("check", "within_bounds")
      .orderBy(col("check"))
  }

  val qDedupParagraphsBoundsSql: String =
    // property-gate twin: literal expected frame, NOT a recomputation
    """SELECT * FROM (VALUES ('band_bucket_ceiling', true),
      |  ('planted_boilerplate_all_flagged', true),
      |  ('recall_floor_vs_exact_tier', true), ('truth_nonempty', true))
      |  t("check", within_bounds)
      |ORDER BY "check"""".stripMargin

  /** Paragraph EXCISION ([[graft.text.Dedup.paragraphExcise]]) over
    * the boilerplate fixture — the detect→transform split at paragraph
    * grain (r18 verdict directive 2, mirroring q_span_dedup →
    * q_span_excise): every cross-doc near-duplicated paragraph keeps
    * its first-seen (min-uid) owner and is removed everywhere else,
    * with exact accounting and the reassembled text. HASH-GREEN end to
    * end because the pair source is the EXACT PPJoin tier (recall 1.0,
    * replayable relationally) — the DuckDB twin rebuilds the paragraph
    * frame, the J ≥ 0.7 pair set, the dominance rule, and the ordered
    * reassembly; the banded tier is the documented 100 TB swap-in
    * (`banded = true`, same downstream shape, recall-gated by
    * q_dedup_paragraphs_bounds). */
  // one exact-tier paragraph pass per (process, scale dir) for the
  // GATES: the PPJoin pair frame and the dominance-excise output are
  // persisted once and shared by the recall gate's truth set and the
  // banded-excise gate's reference (the r19 closing-bench lesson
  // applied BEFORE the capture this time: without the cache each gate
  // would re-shingle and re-join the paragraph frame). The SERVE
  // member deliberately does NOT read this cache — its live plan is
  // the operator's reviewable (and benched) shape.
  private val paraExciseCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]

  private def paraExciseDir(s: SparkSession, d: String): String =
    paraExciseCache.computeIfAbsent(d, _ =>
      graft.BuildTimes.timed("para_excise_fixture_build") {
        val p = graft.TempDirs.create("graft_paraexcise_").toString
        val corpus = paraCorpus(s, d).select(col("doc_id"), col("text"))
          .localCheckpoint(true)
        val paras = graft.text.Dedup.paragraphFrame(corpus)
        val (pairs, handles) = graft.text.Dedup.ngramJaccardPairsWithHandles(
          paras, k = 3, minJaccard = 0.7, textCol = "para", idCol = "uid")
        val cut = pairs.localCheckpoint(true)
        handles.foreach(_.unpersist())
        cut.write.mode("overwrite").parquet(s"$p/pairs")
        graft.text.Dedup.paragraphExciseFromPairs(paras, cut, Nil)
          .write.mode("overwrite").parquet(s"$p/excise")
        p
      })

  def qDedupParagraphsExcise(s: SparkSession, d: String): DataFrame =
    graft.text.Dedup.paragraphExcise(paraCorpus(s, d))
      .orderBy(col("doc_id"))

  /** Fail-closed gate for the BANDED excise tier (r19 verdict
    * directive 3 — `paragraphExcise(banded = true)` is the documented
    * 100 TB swap-in, but until this row only its PAIR level carried a
    * recall floor; the excise-level OUTPUT was ungated):
    * (1) the banded tier's full output (counts, chars, rewritten
    * text) equals the exact tier's row-for-row at harness scale —
    * banded recall on this fixture is measured 1.0, so ANY divergence
    * is a wiring bug, fail closed; (2)(3) conservation, re-derived
    * from the paragraph frame: paragraph counts and paragraph chars
    * are partitioned exactly between kept and removed (kept chars =
    * length(text_clean) minus the n_kept−1 joining newlines);
    * (4) dominance ≡ component-keeper on exact-duplicate cliques —
    * J = 1 means EQUAL shingle sets, so the J = 1 relation is
    * transitive; restricted to components whose members live in
    * pairwise-DISTINCT documents (a same-doc identical pair is
    * q_dedup_lines' grain, excluded from the cross-doc pair frame, so
    * a component containing one is a CHAIN in the cross-doc graph —
    * the geometry the scaladoc documents the rules differing on), the
    * cross-doc pair graph is complete and every non-minimum member
    * must be in the dominance-removed set (the scaladoc's
    * cliques-agree claim, measured); (5) truth nonempty. */
  def qDedupParagraphsExciseBounds(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val P = graft.text.Dedup.ParasPerDoc
    val dir = paraExciseDir(s, d)
    val exact = s.read.parquet(s"$dir/excise")
    val crossPairs = s.read.parquet(s"$dir/pairs")
      .filter(expr(s"id_a div $P") =!= expr(s"id_b div $P"))
      .localCheckpoint(true)
    val corpus = paraCorpus(s, d).select(col("doc_id"), col("text"))
      .localCheckpoint(true)
    // four INDEPENDENT readout groups over the eagerly cut inputs —
    // concurrent per guide §2.6: (A) the banded-tier pipeline + its
    // ±1-weighted drift groupBy (one job instead of two exceptAll
    // passes over frames carrying full text_clean strings — Diff
    // scaladoc); (B) the paragraph-truth aggregate; (C) the exact
    // tier's accounting aggregate; (D) the J=1 clique CC loop + its
    // two dominance counts
    val Seq(aLeg, bLeg, cLeg, dLeg) = graft.ops.Par.eagerly[Seq[Long]](
      () => Seq(graft.ops.Diff.symDiffCount(exact,
        graft.text.Dedup.paragraphExcise(corpus, banded = true))),
      () => {
        val truthRow = graft.text.Dedup.paragraphFrame(corpus)
          .agg(count(lit(1)), coalesce(sum(length(col("para"))), lit(0L)))
          .head()
        Seq(truthRow.getLong(0), truthRow.getLong(1))
      },
      () => {
        val acctRow = exact.agg(
          coalesce(sum(col("n_paragraphs")), lit(0L)),
          coalesce(sum(col("chars_removed")), lit(0L)),
          coalesce(sum(length(col("text_clean")) -
            greatest(col("n_paragraphs") - col("n_paras_removed") - 1,
              lit(0L))), lit(0L))).head()
        Seq(acctRow.getLong(0), acctRow.getLong(1), acctRow.getLong(2))
      },
      () => {
        // exact-duplicate cliques: J = 1 pairs have EQUAL shingle sets,
        // so connectivity is transitive; where a component's members
        // live in pairwise-distinct docs, every member pair is
        // cross-doc and set-equal, hence EMITTED — the cross-doc graph
        // restricted to the component is complete, and dominance must
        // have removed every non-minimum member (the component label
        // is the min uid)
        val j1 = crossPairs.filter(col("jaccard") === 1.0)
          .select(col("id_a"), col("id_b"))
        val removed = crossPairs.select(col("id_b").as("uid")).distinct()
        val cc = graft.text.Dedup.connectedComponents(j1)
        val docDistinct = cc.groupBy(col("component"))
          .agg(count(lit(1)).as("m"),
            countDistinct(expr(s"doc_id div $P")).as("docs"))
          .filter(col("m") === col("docs"))
          .select(col("component"))
        val cliqueMembers = cc.join(docDistinct, Seq("component"), "left_semi")
          .localCheckpoint(true)
        Seq(cliqueMembers.count(),
          cliqueMembers
            .filter(col("doc_id") =!= col("component"))
            .select(col("doc_id").as("uid"))
            .join(removed, Seq("uid"), "left_anti")
            .count())
      })
    val (bandedDrift, nParas, paraChars) = (aLeg(0), bLeg(0), bLeg(1))
    val (nCliqueMembers, keptNonMin) = (dLeg(0), dLeg(1))
    val ok = nCliqueMembers > 0L && nParas > 0L
    Seq(
      ("banded_output_equals_exact", ok && bandedDrift == 0L),
      ("chars_conserved", ok && cLeg(1) + cLeg(2) == paraChars),
      ("clique_nonkeepers_all_dominated", ok && keptNonMin == 0L),
      ("counts_conserved", ok && cLeg(0) == nParas),
      ("truth_nonempty", ok))
      .toDF("check", "within_bounds")
      .orderBy(col("check"))
  }

  val qDedupParagraphsExciseBoundsSql: String =
    // property-gate twin: literal expected frame, NOT a recomputation
    """SELECT * FROM (VALUES ('banded_output_equals_exact', true),
      |  ('chars_conserved', true),
      |  ('clique_nonkeepers_all_dominated', true),
      |  ('counts_conserved', true),
      |  ('truth_nonempty', true))
      |  t("check", within_bounds)
      |ORDER BY "check"""".stripMargin

  private val paraCorpusCtes: String =
    """donated AS (
      |  SELECT doc_id // 4 AS g,
      |    array_to_string(list_slice(string_split(text, ' '), 1, 48), ' ') AS boiler
      |  FROM documents WHERE doc_id % 4 = 0
      |), corpus AS (
      |  SELECT d.doc_id,
      |    CASE WHEN b.boiler IS NOT NULL AND length(b.boiler) > 0
      |      THEN d.text || chr(10) || b.boiler ELSE d.text END AS text
      |  FROM documents d LEFT JOIN donated b ON d.doc_id // 4 = b.g
      |), plist AS (
      |  SELECT doc_id, string_split(text, chr(10)) AS ps FROM corpus
      |), paras AS (
      |  SELECT doc_id * 1024 + (i - 1) AS doc_id, ps[i] AS text
      |  FROM plist, unnest(range(1, len(ps) + 1)) t(i)
      |  WHERE length(trim(ps[i])) > 0
      |)""".stripMargin

  val qDedupParagraphsExciseSql: String =
    s"""WITH $paraCorpusCtes, ${ngramPairCtes("paras", "0.7")},
       |crossp AS (
       |  SELECT id_a, id_b FROM pairs WHERE id_a // 1024 <> id_b // 1024
       |), removed AS (
       |  SELECT DISTINCT id_b AS uid FROM crossp
       |), tagged AS (
       |  SELECT p.doc_id AS uid, p.text AS para, r.uid IS NOT NULL AS rm
       |  FROM paras p LEFT JOIN removed r ON p.doc_id = r.uid
       |)
       |SELECT uid // 1024 AS doc_id,
       |  count(*) AS n_paragraphs,
       |  CAST(sum(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS n_paras_removed,
       |  CAST(sum(CASE WHEN rm THEN length(para) ELSE 0 END) AS BIGINT)
       |    AS chars_removed,
       |  coalesce(string_agg(CASE WHEN NOT rm THEN para END,
       |    chr(10) ORDER BY uid), '') AS text_clean
       |FROM tagged GROUP BY 1
       |ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_paragraphs" -> (qDedupParagraphs _),
    "q_dedup_paragraphs_bounds" -> (qDedupParagraphsBounds _),
    "q_dedup_paragraphs_excise" -> (qDedupParagraphsExcise _),
    "q_dedup_paragraphs_excise_bounds" -> (qDedupParagraphsExciseBounds _),
    "q_dedup_sketch_recall_bounds" -> (qDedupSketchRecallBounds _),
    "q_dedup_keeper_quality" -> (qDedupKeeperQuality _),
    "q_span_dedup" -> (qSpanDedup _),
    "q_span_provenance" -> (qSpanProvenance _),
    "q_span_excise" -> (qSpanExcise _),
    "q_source_copy_fraction" -> (qSourceCopyFraction _),
    "q_source_similarity" -> (qSourceSimilarity _),
    "q_source_similarity_sketch" -> (qSourceSimilaritySketch _),
    "q_source_similarity_sketch_bounds" -> (qSourceSimilaritySketchBounds _),
    "q_leakage_safe_split" -> (qLeakageSafeSplit _),
    "q_dedup_exact" -> (qDedupExact _),
    "q_dedup_incremental" -> (qDedupIncremental _),
    "q_dedup_incremental_minhash" -> (qDedupIncrementalMinhash _),
    "q_dedup_minhash_inc_bounds" -> (qDedupMinhashIncBounds _),
    "q_curation_inc_bounds" -> (qCurationIncBounds _),
    "q_dedup_minhash" -> (qDedupMinhash _),
    "q_dedup_simhash" -> (qDedupSimhash _),
    "q_dedup_ngram" -> (qDedupNgram _),
    "q_dedup_editdist" -> (qDedupEditdist _),
    "q_dedup_clusters" -> (qDedupClusters _),
    "q_curation" -> (qCuration _),
    "q_curation_incremental" -> (qCurationIncremental _))

  val oracles: Map[String, String] = Map(
    "q_dedup_paragraphs_bounds" -> qDedupParagraphsBoundsSql,
    "q_dedup_paragraphs_excise" -> qDedupParagraphsExciseSql,
    "q_dedup_paragraphs_excise_bounds" -> qDedupParagraphsExciseBoundsSql,
    "q_dedup_sketch_recall_bounds" -> qDedupSketchRecallBoundsSql,
    "q_dedup_keeper_quality" -> qDedupKeeperQualitySql,
    "q_span_dedup" -> qSpanDedupSql,
    "q_span_provenance" -> qSpanProvenanceSql,
    "q_span_excise" -> qSpanExciseSql,
    "q_source_copy_fraction" -> qSourceCopyFractionSql,
    "q_source_similarity" -> qSourceSimilaritySql,
    "q_source_similarity_sketch_bounds" -> qSourceSimilaritySketchBoundsSql,
    "q_leakage_safe_split" -> qLeakageSafeSplitSql,
    "q_dedup_exact" -> qDedupExactSql,
    "q_dedup_incremental" -> qDedupIncrementalSql,
    "q_dedup_minhash_inc_bounds" -> qDedupMinhashIncBoundsSql,
    "q_curation_inc_bounds" -> qCurationIncBoundsSql,
    "q_dedup_ngram" -> qDedupNgramSql,
    "q_dedup_editdist" -> qDedupEditdistSql,
    "q_dedup_clusters" -> qDedupClustersSql,
    "q_curation" -> qCurationSql)
}
