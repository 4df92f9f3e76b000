package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Document deduplication operators for large-scale training-data
  * pipelines: exact (hash-groupBy), MinHash LSH, SimHash, and n-gram
  * Jaccard with cheap candidate generation.
  *
  * Scale design (the 100 TB path):
  *  - exact dedup groups on a 256-bit content digest, never shuffling
  *    document bodies;
  *  - near-dup methods are all candidate-generation + verify: candidates
  *    come from equi-joins on small keys (LSH buckets / signature
  *    bands), so the only shuffles are on fixed-width hashes — no
  *    all-pairs comparison anywhere;
  *  - every step is `functions._`/codegen (token explode + hash + bit
  *    arithmetic), no Scala UDFs.
  *
  * Caching contract: the near-dup operators persist their signature
  * tables (read once per join side + once for verification) and the
  * returned frame depends on them, so they cannot unpersist before
  * returning. Long-lived sessions running many dedup jobs should call
  * `spark.catalog.clearCache()` after consuming each result (Bench
  * does; Verify's one-shot session relies on teardown).
  */
object Dedup {

  /** Whitespace tokens, lowercased. */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** k-token shingles as strings; documents shorter than k tokens
    * contribute their whole text as one shingle. (Spark's `sequence`
    * auto-steps backwards when start > stop, so the short-doc case must
    * be guarded explicitly.) */
  def shingles(text: Column, k: Int): Column = {
    val toks = tokens(text)
    when(size(toks) >= k,
      transform(sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
      .otherwise(array(concat_ws(" ", toks)))
  }

  /** One row per document: (id, `sh` = DISTINCT 64-bit shingle hashes).
    * Shingle strings are never materialized: each token is xxhash64'd
    * once, and a shingle's hash is the xxhash64 of its k token hashes —
    * fixed-width long arithmetic instead of per-shingle
    * slice+concat string allocation (measured ~2× on the sf0.1 dedup
    * corpus, where shingle construction dominated the scan). Collision
    * tolerance is the same as hashing the shingle strings: a 64-bit
    * collision can only merge two shingles, which exact verification
    * tolerates (P ≈ (#distinct shingles)²/2⁶⁵; a token-hash collision
    * additionally needs both tokens in overlapping contexts). `th` is
    * bound as a named column BEFORE the shingle transform so the
    * token-hash array is computed once per row, not once per shingle
    * position. */
  private[graft] def shingleHashFrame(df: DataFrame, k: Int,
      textCol: String, idCol: String): DataFrame =
    shingleHashFrameTok(
      df.select(col(idCol), tokens(col(textCol)).as("toks")),
      k, idCol, shortDocWholeText = true)

  /** Same token-hash shingling over a PRE-TOKENIZED frame carrying
    * (idCol, "toks") — for callers with their own tokenizer (e.g. the
    * contamination check keeps case, where [[tokens]] lowercases).
    * `shortDocWholeText = true` gives sub-k-token docs their whole text
    * as one shingle (dedup semantics: every doc must be joinable);
    * `false` gives them an EMPTY shingle set (contamination semantics:
    * a doc with no complete k-gram has nothing to match). */
  private[graft] def shingleHashFrameTok(pre: DataFrame, k: Int,
      idCol: String, shortDocWholeText: Boolean): DataFrame = {
    val short =
      if (shortDocWholeText) array(xxhash64(concat_ws(" ", col("toks"))))
      else expr("cast(array() as array<bigint>)")
    pre
      .withColumn("th", transform(col("toks"), t => xxhash64(t)))
      .select(col(idCol), array_distinct(
        when(size(col("th")) >= k,
          transform(sequence(lit(0), size(col("th")) - k),
            i => xxhash64((1 to k).map(j => element_at(col("th"), i + j)): _*)))
          .otherwise(short)).as("sh"))
  }

  /** Exact dedup: one row per distinct content, keeping the smallest id
    * (`keeper`) plus the duplicate count. Groups on sha2-256 of the
    * text — fixed 64-char shuffle key regardless of document size;
    * collision probability is negligible at any corpus size. */
  def exactDedup(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    df.groupBy(sha2(col(textCol), 256).as("content_sha"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_copies"))

  /** Incremental exact dedup — the form dedup actually takes at
    * 100 TB: a new DELTA batch is curated against the already-kept
    * corpus WITHOUT rescanning it. The curated side is represented by
    * its content digests alone (`keeperShas`: one 64-char sha2-256
    * column, the running "seen set" a pipeline persists between
    * ingests — fixed-width, a fraction of corpus size). A delta row
    * survives iff its digest misses the seen set (left-anti join on
    * the digest) AND it is the min-id row of its within-delta digest
    * group. Returns the surviving delta rows with their digest, so the
    * caller can append them to the seen set for the next batch.
    *
    * The banded sketch tiers compose the same way: persist keeper band
    * keys ((band, key) longs) and equi-join the delta's bands against
    * them — candidate generation never touches kept documents, only
    * their precomputed signatures. */
  def incrementalExactDedup(keeperShas: DataFrame, delta: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      shaCol: String = "content_sha"): DataFrame = {
    val hashed = delta.withColumn(shaCol, sha2(col(textCol), 256))
    val fresh = hashed.join(keeperShas.select(col(shaCol)), Seq(shaCol), "left_anti")
    // min-id keeper within the delta's own digest groups (same rule as
    // exactDedup); join back on (sha, id) rather than a window so the
    // shuffle key stays the fixed-width digest
    val keepers = fresh.groupBy(col(shaCol)).agg(min(col(idCol)).as(idCol))
    fresh.join(keepers, Seq(shaCol, idCol))
  }

  /** SimHash: 128-bit locality-sensitive fingerprint as two longs
    * (`simhash_hi`, `simhash_lo`). Each token votes ±1 per bit
    * position (two independent xxhash64 streams cover the 128 bits)
    * weighted by term frequency; the sign of each bit-sum becomes the
    * fingerprint bit. Near-dup pairs differ in few bits (small
    * hamming distance over the full 128).
    *
    * 128 bits rather than 64 (r9 soak finding): band keys must carry
    * enough bits to keep buckets from saturating as the corpus grows
    * — 8-bit keys over a 64-bit fingerprint produced N²/256-sized
    * buckets (2.5B candidates at the 30× soak). A 128-bit fingerprint
    * feeds 8 bands × 16 bits: 65 536 buckets per band, with recall by
    * OR-amplification across the 8 bands (measured against the exact
    * tier in DedupSpec). One explode + one 128-expression aggregate —
    * fully codegen'd, shuffle key is the doc id. */
  def simhash(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val exploded = df
      .select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      // two independent 64-bit hash streams: xxhash64(tok) and
      // xxhash64(tok, salt) (multi-arg xxhash64 hashes the tuple)
      .withColumn("h0", xxhash64(col("tok")))
      .withColumn("h1", xxhash64(col("tok"), lit(0x9E3779B9L)))
    def bitSums(src: String, off: Int) = (0 until 64).map { i =>
      sum(when(shiftright(col(src), i).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"b${off + i}")
    }
    val all = bitSums("h0", 0) ++ bitSums("h1", 64)
    val sums = exploded.groupBy(col(idCol)).agg(all.head, all.tail: _*)
    def word(off: Int) = (0 until 64).map { i =>
      when(col(s"b${off + i}") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    sums.select(col(idCol), word(64).as("simhash_hi"), word(0).as("simhash_lo"))
  }

  /** SimHash near-dup pairs: band the 128-bit fingerprint into
    * `numBands` equal keys, equi-join on (band index, band value) to
    * generate candidates, then verify
    * `bit_count(xor_hi) + bit_count(xor_lo) <= maxHamming`.
    *
    * Banding math (why 8 × 16-bit): an EXACT pigeonhole guarantee at
    * hamming h needs h+1 bands, which caps keys at ~width/(h+1) bits —
    * at any fixed RELATIVE threshold that is a constant ≈ 9 bits no
    * matter the fingerprint width, and constant-width keys mean
    * N²/2^bits bucket quadratics (the r8 parameterization measured
    * exponent 1.83 at the 30× soak). So the scale path gives up the
    * pigeonhole guarantee for OR-amplified probabilistic recall —
    * exactly [[minhashPairs]]'s contract: per-band catch
    * P = ((128−16)/128)^h, overall 1−(1−P)^8 (≈0.91 at h=14, ≈0.999
    * at the planted-pair median h≈4), with the recall floor measured
    * against the exact tier in `DedupSpec`, while 16-bit keys keep
    * candidate volume linear until corpora approach 2^16 × avg-bucket
    * scale per band. */
  def simhashPairs(df: DataFrame, maxHamming: Int = 14, numBands: Int = 8,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(128 % numBands == 0, s"numBands must divide 128: $numBands")
    val bandBits = 128 / numBands
    require(bandBits <= 64, s"band keys wider than a long: $bandBits bits")
    val mask = if (bandBits == 64) -1L else (1L << bandBits) - 1
    val perWord = 64 / bandBits
    // both sides of the candidate self-join read the fingerprints —
    // persist so the explode+128-aggregate pass runs once
    val fp = simhash(df, textCol, idCol).persist(StorageLevel.MEMORY_AND_DISK)
    val banded = fp.select(col(idCol), col("simhash_hi"), col("simhash_lo"),
      explode(array((0 until numBands).map { b =>
        val src = if (b < perWord) col("simhash_lo") else col("simhash_hi")
        struct(lit(b).as("band"),
          shiftright(src, (b % perWord) * bandBits).bitwiseAND(mask).as("key"))
      }: _*)).as("bk"))
    val a = banded.select(col(idCol).as("id_a"),
      col("simhash_hi").as("hi_a"), col("simhash_lo").as("lo_a"),
      col("bk.band").as("band"), col("bk.key").as("key"))
    val b = banded.select(col(idCol).as("id_b"),
      col("simhash_hi").as("hi_b"), col("simhash_lo").as("lo_b"),
      col("bk.band").as("band"), col("bk.key").as("key"))
    a.join(b, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (bit_count(col("hi_a").bitwiseXOR(col("hi_b"))) +
          bit_count(col("lo_a").bitwiseXOR(col("lo_b")))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** N-gram Jaccard near-dup: EXACT set-similarity self-join via prefix
    * filtering (the AllPairs/PPJoin candidate rule — Bayardo et al.,
    * WWW'07; Xiao et al., WWW'08): under any common total order of
    * shingles, two sets with Jaccard ≥ t must share an element within
    * the first `|s| − ⌈t·|s|⌉ + 1` elements of each. Candidates
    * therefore come from an equi-join on prefix shingles only, then
    * verify with exact Jaccard over the distinct shingle sets — recall
    * is exactly 1.0 (unlike banded LSH, whose recall is probabilistic;
    * [[minhashPairs]] remains the sketch path for when an approximate
    * answer is acceptable). The output is {pairs with J ≥ t} regardless
    * of candidate-generation details, so callers (and the DuckDB
    * oracle) need not mirror the ordering/filters below.
    *
    * Candidate-pruning stack, in order of leverage:
    *  - shingles are hashed to 64-bit longs ONCE up front — every
    *    shuffle key and every verification array is fixed-width longs,
    *    never strings (a collision can only merge two shingles, which
    *    exact verification tolerates: P ≈ (#distinct shingles)²/2⁶⁵);
    *  - prefixes use the canonical ASCENDING-document-frequency order
    *    (rarest shingles first): a shingle shared by m documents makes
    *    m·(m−1)/2 candidate rows, so keeping frequent shingles out of
    *    prefixes collapses the quadratic term (measured at sf0.01:
    *    3 953 → 600 candidates, exactly the planted pairs);
    *  - the length filter (t·max(n_a,n_b) ≤ min(n_a,n_b), necessary
    *    for J ≥ t) and the PPJoin positional filter (a match at prefix
    *    positions (i,j) bounds the overlap by 1 + min(n_a−i−1, n_b−j−1),
    *    which must reach ⌈t/(1+t)·(n_a+n_b)⌉) both run on the raw join
    *    output, BEFORE the candidate-dedup shuffle. The positional
    *    filter is recall-safe under `distinct`: for a true pair, its
    *    FIRST common prefix shingle has no earlier overlap, so that
    *    row's bound is a genuine upper bound ≥ the true overlap ≥ the
    *    requirement — the pair always survives via that row.
    *
    * Never `min_a = min_b OR max_a = max_b` as a join condition — an
    * OR across columns can only plan as a nested-loop cross product.
    * Candidate id-pairs are deduped BEFORE shingle sets are re-attached,
    * so the arrays travel only to surviving candidates. */
  def ngramJaccardPairs(df: DataFrame, k: Int = 3, minJaccard: Double = 0.8,
      textCol: String = "text", idCol: String = "doc_id",
      hotShingleDf: Long = 100000L): DataFrame =
    ngramJaccardPairsWithHandles(df, k, minJaccard, textCol, idCol,
      hotShingleDf)._1

  /** Attach per-shingle document frequency to the exploded
    * (doc, shingle-hash) frame with bounded window partitions.
    *
    * A plain `count().over(partitionBy(h))` lands EVERY row of a
    * pathological stopword shingle in one window partition — one task
    * owns the hot key, the same single-reducer skew any h-keyed
    * co-location forces. df only drives the PPJoin prefix ORDER (any
    * total order shared by all docs preserves exactness), but the
    * values must stay consistent, so the guard is purely physical:
    *
    *  1. a partial-aggregable `groupBy(h).count()` finds shingles with
    *     df > `hotShingleDf` — skew-free by map-side combine (each task
    *     emits one row per distinct h), and by pigeonhole the hot table
    *     has at most |rows| / hotShingleDf entries, which is what makes
    *     the broadcast below safe-by-construction (raise the threshold
    *     with corpus scale to keep that bound; the explicit hint is
    *     justified here, unlike an unbounded dimension table);
    *  2. hot rows take df from that broadcast — no shuffle at all;
    *  3. cold rows keep the one-shuffle window count, whose partitions
    *     are now ≤ hotShingleDf rows by construction.
    *
    * When the count finds no hot shingle (the common corpus), the
    * original single-window plan is used unchanged — the check itself
    * then proves every window partition is bounded. df values are
    * identical either way, so the candidate set and the pair output
    * never change. Returns the attached frame plus the persisted hot
    * table as an unpersist handle. *
    * NOTE: the hot/cold split probes `hot.isEmpty` EAGERLY at
    * construction — one job over the (persisted, later reused) shingle
    * frame. Callers composing lazily (explain-only, conditional
    * pipelines) pay that scan at construction time rather than first
    * action; the cost is inherent to choosing the plan shape by data.
    */
  private[text] def attachShingleDf(exploded: DataFrame, idCol: String,
      hotShingleDf: Long): (DataFrame, Seq[DataFrame]) = {
    val byH = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    val hot = exploded.groupBy(col("h"))
      .agg(count(lit(1)).as("hot_df"))
      .filter(col("hot_df") > hotShingleDf)
      .persist(StorageLevel.MEMORY_AND_DISK)
    if (hot.isEmpty)
      (exploded.withColumn("df", count(lit(1)).over(byH)), Seq(hot))
    else {
      val tagged = exploded.join(broadcast(hot), Seq("h"), "left")
      val cold = tagged.filter(col("hot_df").isNull).drop("hot_df")
        .withColumn("df", count(lit(1)).over(byH))
      val hotRows = tagged.filter(col("hot_df").isNotNull)
        .withColumnRenamed("hot_df", "df")
      (cold.unionByName(hotRows), Seq(hot))
    }
  }

  /** [[ngramJaccardPairs]] plus its persisted intermediate handles
    * (docSets, byDoc), so pipeline callers ([[Curation.curate]]) can
    * unpersist them once the pair output is fully materialized —
    * instead of leaking MEMORY_AND_DISK blocks until clearCache. The
    * pairs frame READS these caches: only release after an action has
    * consumed it (or after a checkpoint cut the lineage). */
  private[graft] def ngramJaccardPairsWithHandles(df: DataFrame, k: Int = 3,
      minJaccard: Double = 0.8, textCol: String = "text",
      idCol: String = "doc_id",
      hotShingleDf: Long = 100000L): (DataFrame, Seq[DataFrame]) = {
    // (id, sh) persisted — BOTH the verification-set source and an
    // optimizer barrier: without it, InferFiltersFromGenerate puts a
    // `size(sh) > 0 AND isnotnull(sh)` filter under the explode and
    // predicate pushdown substitutes the whole shingle expression into
    // that filter, re-evaluating it twice more per row (measured 4×
    // slower than the explode itself at sf0.1)
    val docSets = shingleHashFrame(df, k, textCol, idCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // one row per (doc, distinct shingle hash) — the working form for
    // both the frequency count and the per-doc re-aggregation
    val exploded = docSets.select(col(idCol), explode(col("sh")).as("h"))
    // global document frequency per shingle, skew-guarded (see
    // attachShingleDf): the common no-hot-shingle corpus keeps the
    // single-window one-shuffle plan; a stopword shingle routes its
    // rows through a bounded broadcast instead of one window task
    val (withDf, dfHandles) = attachShingleDf(exploded, idCol, hotShingleDf)
    val byDoc = withDf
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("df"), col("h")))).as("dh"))
      .withColumn("hs", transform(col("dh"), x => x.getField("h")))
      .withColumn("n", size(col("hs")))
      // ⌈t·n⌉ with a 1e-9 slack: if float error pushes t·n just above an
      // integer, the slack rounds it back DOWN — the prefix gets one
      // element longer, which only adds candidates (never loses recall)
      .withColumn("plen",
        col("n") - ceil(lit(minJaccard) * col("n") - lit(1e-9)).cast("int") + lit(1))
      .drop("dh")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val prefixes = byDoc.select(col(idCol), col("n"),
      posexplode(slice(col("hs"), lit(1), col("plen"))).as(Seq("pos", "h")))
    val a = prefixes.select(col(idCol).as("id_a"), col("n").as("n_a"),
      col("pos").as("pos_a"), col("h"))
    val b = prefixes.select(col(idCol).as("id_b"), col("n").as("n_b"),
      col("pos").as("pos_b"), col("h"))
    val candidates = a.join(b, Seq("h"))
      .filter(col("id_a") < col("id_b") &&
        least(col("n_a"), col("n_b")).cast("double") >=
          lit(minJaccard) * greatest(col("n_a"), col("n_b")) - lit(1e-9) &&
        (lit(1) + least(col("n_a") - col("pos_a") - 1, col("n_b") - col("pos_b") - 1))
          .cast("double") >=
          lit(minJaccard / (1.0 + minJaccard)) * (col("n_a") + col("n_b")) - lit(1e-9))
      .select(col("id_a"), col("id_b"))
      .distinct()
    val sets = byDoc.select(col(idCol), col("hs"), col("n"))
    val pairs = candidates
      .join(sets.select(col(idCol).as("id_a"), col("hs").as("hs_a"), col("n").as("n_a")), Seq("id_a"))
      .join(sets.select(col(idCol).as("id_b"), col("hs").as("hs_b"), col("n").as("n_b")), Seq("id_b"))
      // |A∪B| = n_a + n_b − |A∩B| (sets are distinct) — one array pass, not two
      .withColumn("inter", size(array_intersect(col("hs_a"), col("hs_b"))))
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
    (pairs, Seq(docSets, byDoc) ++ dfHandles)
  }

  /** One large-star + small-star round over a canonical (s < b) edge
    * set — the loop body of [[connectedComponents]], also dumped
    * standalone by ExplainDump (the per-round `localCheckpoint`
    * otherwise hides the round's operators behind a Scan ExistingRDD
    * in any plan printed from the converged result). */
  private[graft] def ccRound(edges: DataFrame): DataFrame = {
    // large-star: for canonical (s, b) the only v > u case is u = s,
    // v = b, but the neighborhood minimum must see BOTH directions.
    val sym = edges.select(col("s").as("u"), col("b").as("v"))
      .union(edges.select(col("b").as("u"), col("s").as("v")))
    val uMin = sym.groupBy(col("u"))
      .agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("mn"), col("u")).as("m"))
    // no distinct here: duplicate (m, v) rows (same attachment reached
    // through different u) don't change small-star's min and are
    // collapsed by the round-final distinct — saves a shuffle/round
    val large = sym.filter(col("v") > col("u"))
      .join(uMin, Seq("u"))
      .select(col("m").as("s"), col("v").as("b"))  // m <= u < v
      .filter(col("s") =!= col("b"))
    // small-star on the large-star output: orient big → small.
    val oriented = large.select(col("b").as("u"), col("s").as("v")) // v < u
    val oMin = oriented.groupBy(col("u")).agg(min(col("v")).as("m"))
    oriented.join(oMin, Seq("u"))
      .filter(col("v") =!= col("m"))
      .select(col("m").as("s"), col("v").as("b"))  // m = min(Γ<(u)) < v
      .union(oMin.select(col("m").as("s"), col("u").as("b")))     // m < u
      .distinct()
  }

  /** Canonical undirected (s <= b) pair set of a pair frame, self-loops
    * kept so a vertex seen only in a self-loop is still labelled — the
    * one eager cut of [[connectedComponents]] (the loop reads its s < b
    * edges, the final labelling its vertices), exposed for the stage
    * plan dump. */
  private[graft] def canonicalEdges(pairs: DataFrame, idACol: String = "id_a",
      idBCol: String = "id_b"): DataFrame =
    pairs
      .select(least(col(idACol), col(idBCol)).as("s"),
        greatest(col(idACol), col(idBCol)).as("b"))
      .distinct()

  /** Connected components over a near-dup pair list: each document is
    * labeled with the smallest doc id reachable through duplicate
    * edges — the "cluster keeper" every training-data dedup pipeline
    * needs after pair generation (keep the keeper, drop the rest).
    * Same keeper convention as [[exactDedup]] (min id).
    *
    * Algorithm: alternating large-star/small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) —
    * O(log n) rounds on ANY graph, vs the O(diameter) rounds of plain
    * min-label propagation. Dense dup clusters (diameter 1–3) still
    * finish in 2–3 rounds, but an adversarial chain component no
    * longer costs one full shuffle per hop — at the 100 TB tier a
    * 10^6-vertex chain is ~20 rounds here instead of 10^6. Per round:
    *   large-star: every vertex's LARGER neighbors re-attach to the
    *     minimum of its neighborhood (incl. itself);
    *   small-star: orient edges big→small, every vertex's smaller
    *     neighbors (and itself) re-attach to its minimum neighbor.
    * Both halves are one groupBy(min) + one equi-join over (long,
    * long) edge rows — map-side combinable, no driver state. The
    * fixpoint is the star set {(root, v)}: each member attached
    * directly to its component's min id, which IS the output labeling.
    *
    * Each round is cut from its lineage with an eager
    * `localCheckpoint` (a merely-persisted loop hands the optimizer
    * the whole accumulated plan — planning grows ~3× per round,
    * measured 0.8s → 2.3s → 6.2s over three label-prop rounds at
    * sf0.1; checkpointed, each round is flat). On a production
    * cluster with lossy executors the reliable `checkpoint(dir)`
    * variant is the drop-in replacement. Convergence is an EXACT
    * structural test: the round output is a fixpoint iff it is a star
    * forest (no vertex on both root and member side, every member
    * attached to exactly one root). The check is FUSED with the
    * checkpoint: rounds checkpoint lazily and the check's groupBy is
    * the materializing action, so each round costs one job — r8
    * eager-checkpointed and paid a separate materialization job per
    * round, a measured 1.46× on q_dedup_clusters; and unlike a
    * round-over-round fingerprint compare, the structural test needs
    * no redundant confirmation round.
    *
    * The pair pipeline under `pairs` is cut ONCE, as its canonical
    * (least, greatest) pairs ([[canonicalEdges]]); the loop's edges and
    * the labelled vertex set are both derived from that cut.
    * Returns (doc_id, component); only vertices present in `pairs`
    * appear (absent docs are trivially their own keeper), a vertex
    * seen only in a self-loop labelled as itself. */
  def connectedComponents(pairs: DataFrame, idACol: String = "id_a",
      idBCol: String = "id_b", maxIter: Int = 20): DataFrame = {
    // ONE eager cut of the pair pipeline, read by both the loop's edges
    // and the final labelling's vertex set, so the work under `pairs`
    // (band join, distinct, verify) runs once
    val canon = canonicalEdges(pairs, idACol, idBCol).localCheckpoint(true)
    val verts = canon.select(explode(array(col("s"), col("b"))).as("doc_id"))
      .distinct()
    // star forest ⇔ fixpoint of the large/small-star round: roots never
    // appear as members, and each member is attached to exactly one root
    def isStarForest(e: DataFrame): Boolean =
      e.select(col("s").as("vtx"), lit(1L).as("n_root"), lit(0L).as("n_member"))
        .union(e.select(col("b"), lit(0L), lit(1L)))
        .groupBy(col("vtx"))
        .agg(sum(col("n_root")).as("n_root"), sum(col("n_member")).as("n_member"))
        .filter(col("n_member") > 1 || (col("n_root") > 0 && col("n_member") > 0))
        .isEmpty
    // localCheckpoint(eager = false) for every round: the
    // structural convergence check is the materializing action (its
    // groupBy shuffle computes every input partition, and the job-end
    // doCheckpoint caches them + truncates lineage), so each round
    // costs exactly ONE job — r8 eager-checkpointed and so paid a
    // materialization job PLUS a check job per round, the measured
    // 1.46× on q_dedup_clusters. Unlike a round-over-round fingerprint
    // compare, the structural test also needs NO redundant
    // confirmation round: it detects the star forest the moment a
    // round produces it (q_dedup_clusters converges in 1 round, not 2).
    // the loop's edges (s < b, self-loops dropped): a narrow filter
    // over the cut, so round 1 reads checkpoint blocks
    var edges = canon.filter(col("s") =!= col("b"))
    // No upfront structural check: real pair graphs are never already
    // star forests, so the check would be a pure extra job; if the
    // input IS one, round 1 is an identity round and the fused check
    // detects it there.
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val next = ccRound(edges).localCheckpoint(false)
      converged = isStarForest(next)
      edges = next
      iter += 1
      if (sys.env.contains("GRAFT_CC_DEBUG"))
        System.err.println(s"[cc] round $iter converged=$converged")
    }
    // Returning silently-unconverged labels would let downstream curation
    // keep/drop the WRONG documents with no signal — with O(log n)
    // rounds only a pathological maxIter override can get here, but the
    // contract stays loud.
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter " +
          "large/small-star rounds — raise maxIter (rounds needed are " +
          "O(log n) in the largest component size)")
    // fixpoint edges are (root, member); roots and isolated vertices
    // label themselves
    verts
      .join(edges.select(col("b").as("doc_id"), col("s").as("root")), Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("root"), col("doc_id")).as("component"))
  }

  /** Repeated-span detection — the SUBSTRING-level dedup tier
    * (Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", ACL'22: at web scale, duplicated SPANS inside otherwise
    * distinct documents dominate verbatim whole-document copies, and
    * document-level tiers cannot see them). Exact sliding-window
    * formulation: every k-token window of every document, grouped;
    * spans occurring in at least `minDocs` DISTINCT documents are
    * reported with their document and occurrence counts.
    *
    * Scale shape: explode is linear in corpus token count (the same
    * cost class as the shingle tiers), the groupBy is one shuffle with
    * map-side partial aggregation, and there is no join at all. The
    * shuffle key here is the span text itself for oracle parity; the
    * 100 TB variant groups on `sha2(span, 256)` — fixed 32-byte keys —
    * and re-derives the text from any single member, changing no
    * semantics. All expression-level, no UDF. */
  def repeatedSpans(docs: DataFrame, k: Int = 8, minDocs: Int = 2,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    spanOccurrences(docs, k, textCol, idCol)
      .groupBy(col("span"))
      .agg(countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .filter(col("n_docs") >= minDocs)

  /** Every k-token window of every document, with carried doc
    * metadata — the occurrence-grain frame under [[repeatedSpans]]
    * and the provenance readouts. Same cost class as the shingle
    * tiers: one linear explode, no join. */
  def spanOccurrences(docs: DataFrame, k: Int = 8, textCol: String = "text",
      idCol: String = "doc_id", carry: Seq[String] = Nil): DataFrame = {
    val toks = docs.select((Seq(idCol) ++ carry).map(col) :+
      filter(tokens(col(textCol)), t => t =!= "").as("toks"): _*)
    toks.filter(size(col("toks")) >= k)
      .select((Seq(idCol) ++ carry).map(col) :+ explode(expr(
        s"transform(sequence(1, size(toks) - ${k - 1}), " +
          s"i -> concat_ws(' ', slice(toks, i, $k)))")).as("span"): _*)
  }

  /** Cross-document span provenance — the attribution half of span
    * dedup (Lee et al. ACL'22 report WHAT is duplicated;
    * pipelines publishing a removal also report WHERE it came from):
    * for every span repeated across ≥ `minDocs` distinct documents,
    * the FIRST document that contained it (min doc id — the corpus's
    * ingestion order; swap a timestamp into the struct where one
    * exists) and that document's source.
    *
    * Scale shape: [[spanOccurrences]]'s linear explode, then ONE
    * grouped aggregation — the arg-min is `min(struct(id, src))`
    * (partial-aggregable, lexicographic on the unique id — never a
    * window over the corpus). Group key is the span text for oracle
    * parity; the 100 TB variant groups on sha2(span), as
    * [[repeatedSpans]] documents. */
  def spanProvenance(docs: DataFrame, k: Int = 8, minDocs: Int = 2,
      srcCol: String = "source"): DataFrame =
    spanOccurrences(docs, k, carry = Seq(srcCol))
      .groupBy(col("span"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(struct(col("doc_id"), col(srcCol))).as("w"))
      .filter(col("n_docs") >= minDocs)
      .select(col("span"), col("n_docs"), col("n_occurrences"),
        col("w.doc_id").as("first_doc"), col(s"w.$srcCol").as("first_source"))

  /** Duplicated-span EXCISION — the rewrite operator downstream of
    * [[repeatedSpans]] (Lee et al. ACL'22's ExactSubstr transform:
    * don't just COUNT duplicated spans, remove them and train on the
    * cleaned corpus). Every k-token window whose span text occurs in
    * ≥ `minDocs` distinct documents is removable in every document
    * EXCEPT the span's first owner (min doc id — ingestion order, the
    * same first-owner rule as [[spanProvenance]]); within each
    * document the removable window starts are excised greedily
    * leftmost, non-overlapping (scan ascending, take a start iff it
    * clears the previous excision's end), and the surviving tokens are
    * re-joined. Non-duplicated text passes through byte-identical in
    * token space, and the token accounting is exact by construction:
    * n_tokens_clean = n_tokens − k·n_spans_excised (selected windows
    * are disjoint and in-bounds).
    *
    * Scale shape: the span explode is linear in corpus token count and
    * the span groupBy is ONE shuffle with map-side combine (the
    * [[repeatedSpans]] cost class; group on sha2(span) at 100 TB as
    * documented there); the join-back co-partitions on the span key
    * the aggregate already shuffled on. Everything after is IN-ROW:
    * the greedy selection is an `aggregate` fold over the doc's sorted
    * removable starts and the reassembly filters ≤ |doc| positions
    * against ≤ |doc|/k selected spans — per-record work bounded by the
    * record, never by the corpus. The token frame is checkpointed once
    * (it feeds the occurrence explode AND the final reassembly — the
    * r12 shared-subframe discipline; the explode itself recomputes
    * from the checkpoint rather than materializing the occurrence
    * grain, which is k× wider than the corpus). No UDF anywhere.
    *
    * Output: (doc_id, n_tokens, n_spans_excised, n_tokens_clean,
    * text_clean). */
  def spanExcise(docs: DataFrame, k: Int = 8, minDocs: Int = 2,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val toks = docs.select(col(idCol),
        filter(tokens(col(textCol)), t => t =!= "").as("toks"))
      .localCheckpoint(true)
    val occ = toks.filter(size(col("toks")) >= k)
      .select(col(idCol), explode(expr(
        s"transform(sequence(1, size(toks) - ${k - 1}), " +
          s"i -> named_struct('i', i, 'span', concat_ws(' ', slice(toks, i, $k))))"))
        .as("o"))
      .select(col(idCol), col("o.i").as("i"), col("o.span").as("span"))
    val firsts = occ.groupBy(col("span"))
      .agg(countDistinct(col(idCol)).as("n_docs"),
        min(col(idCol)).as("first_doc"))
      .filter(col("n_docs") >= minDocs)
    val removable = occ.join(firsts, Seq("span"))
      .filter(col(idCol) =!= col("first_doc"))
      .select(col(idCol), col("i"))
    // greedy leftmost non-overlapping selection: an in-row fold over
    // the doc's ascending removable starts (sort_array makes the
    // collect_list order deterministic)
    val sel = removable.groupBy(col(idCol))
      .agg(sort_array(collect_list(col("i"))).as("ps"))
      .select(col(idCol), expr(
        s"""aggregate(ps,
           |  named_struct('nxt', 1, 'sel', cast(array() as array<int>)),
           |  (acc, p) -> IF(p >= acc.nxt,
           |    named_struct('nxt', p + $k, 'sel', concat(acc.sel, array(p))),
           |    acc),
           |  acc -> acc.sel)""".stripMargin).as("sel"))
    val kept = when(col("sel").isNull, col("toks")).otherwise(expr(
      s"""transform(
         |  filter(transform(toks, (t, j) -> named_struct('t', t, 'p', j + 1)),
         |    x -> NOT exists(sel, s -> x.p >= s AND x.p < s + $k)),
         |  x -> x.t)""".stripMargin))
    toks.join(sel, Seq(idCol), "left")
      .withColumn("kept", kept)
      .select(col(idCol),
        size(col("toks")).cast("long").as("n_tokens"),
        coalesce(size(col("sel")), lit(0)).cast("long").as("n_spans_excised"),
        size(col("kept")).cast("long").as("n_tokens_clean"),
        concat_ws(" ", col("kept")).as("text_clean"))
  }

  /** EXACT bounded edit-distance pairs for SHORT strings (titles,
    * URLs, names — the string-metric dedup family; shingle tiers are
    * wrong for strings a few tokens long). Ed-Join-style candidate
    * generation (Xiao et al., VLDB'08 — the edit-distance sibling of
    * the ngram tier's PPJoin): character q-grams per string, globally
    * ordered by ascending document frequency, and only each string's
    * FIRST `q*maxDist + 1` grams are indexed. Exact by the q-gram
    * destruction bound — one edit destroys at most q grams, so two
    * strings within maxDist share at least one gram of any such
    * prefix; asc-df ordering puts the rarest grams in the prefix,
    * which is what collapses the quadratic term (a naive length-band
    * join degenerates to a single quadratic bucket when lengths
    * cluster — measured 16s naive vs ~3s here at sf0.1 on id-prefixed
    * titles; on an adversarially LOW-ENTROPY corpus every gram is
    * common and any prefix scheme degrades toward quadratic — the
    * inherent contract of gram-based pruning).
    * A |len diff| <= maxDist filter prunes candidates before the
    * thresholded `levenshtein(l, r, k)` verify (early-exits and
    * returns -1 past the bound — O(k*len) per pair, not O(len^2)).
    *
    * The prefix guarantee requires q*maxDist+1 grams, i.e. length >=
    * q*(maxDist+1); shorter strings (whose whole gram set maxDist
    * edits can destroy) band by LENGTH against every string of length
    * <= q*(maxDist+1)-2+maxDist instead — a tiny bucket wherever the
    * operator's short-string contract holds (DedupSpec checks the
    * boundary against a brute-force reference).
    *
    * Low-entropy guard (`dfCapFraction`): on an adversarial corpus
    * where EVERY gram is common, the rarest-grams-first prefix stops
    * pruning and the gram self-join manufactures ~prefixLen·df
    * candidates per string plus a same-sized distinct shuffle — worse
    * than the naive length-band join it was meant to beat. Strings
    * whose rarest gram still has df > max(dfCapFraction·N, 8) are
    * therefore routed OUT of the gram index into a two-sided
    * length-band join against the whole long slice: degradation is
    * bounded at the length-band cost (such corpora genuinely hold
    * quadratically many near-pairs — no filter can make them cheap,
    * the guard just stops paying the gram-join overhead ON TOP).
    * Exactness is unaffected: routed strings meet every length-
    * compatible partner, unrouted pairs keep the prefix guarantee
    * (DedupSpec: planted low-entropy corpus — brute-force equality +
    * measured candidate blow-up with the guard off vs on). */
  def editDistancePairs(df: DataFrame, maxDist: Int = 2, q: Int = 3,
      textCol: String = "title", idCol: String = "doc_id",
      dfCapFraction: Double = 0.1): DataFrame = {
    val base = df.select(col(idCol), col(textCol),
      length(col(textCol)).as("len"))
    val candidates =
      if (maxDist <= 2) fastSsCandidates(base, maxDist, textCol, idCol)
      else editDistanceCandidates(base, maxDist, q, textCol, idCol, dfCapFraction)
    candidates
      .join(base.select(col(idCol).as("id_a"), col(textCol).as("t_a"),
        col("len").as("len_a")), Seq("id_a"))
      .join(base.select(col(idCol).as("id_b"), col(textCol).as("t_b"),
        col("len").as("len_b")), Seq("id_b"))
      .filter(abs(col("len_a") - col("len_b")) <= maxDist)
      .withColumn("dist", levenshtein(col("t_a"), col("t_b"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** Deletion-neighborhood candidates (FastSS — Bocek et al., 2007;
    * the index behind SymSpell): if ed(A, B) ≤ τ then some string
    * obtained by deleting ≤ τ chars from A equals one obtained by
    * deleting ≤ τ chars from B (delete A's deleted+substituted
    * alignment positions and B's inserted+substituted ones) — so an
    * equi-join on the deletion variants is a complete candidate rule.
    *
    * Why this is THE short-string scale path (and the r9 soak's
    * finding): any q-gram scheme keys on O(q)-char grams, and the gram
    * vocabulary SATURATES as the corpus grows — on the 30× soak corpus
    * the rarest-gram buckets reach hundreds of strings and candidate
    * volume turns quadratic (measured 306M raw candidates at q=3,
    * exponent ≈1.8, no matter how the prefix is chosen). Deletion
    * variants are near-FULL-LENGTH strings: a bucket holds only
    * strings genuinely within τ deletions of each other, so candidate
    * volume tracks the true pair count, not N²/|gram vocab|. The cost
    * is Σ_{k≤τ} C(len, k) variants per string — ~len+1 for τ=1,
    * ~len²/2 for τ=2 — which is exactly affordable on SHORT strings
    * (this tier's contract) and exponential beyond, hence the τ ≤ 2
    * dispatch in [[editDistancePairs]] with the Ed-Join gram path kept
    * for larger τ. Variants shuffle as 8-byte xxhash64 keys, never
    * strings; a hash collision can only add a candidate the
    * `levenshtein` verify kills. */
  private[graft] def fastSsCandidates(base: DataFrame, maxDist: Int,
      textCol: String, idCol: String): DataFrame = {
    require(maxDist >= 0 && maxDist <= 2, s"fastSS handles maxDist 0..2: $maxDist")
    val t = textCol
    // deletion variants as pure SQL expressions; sequence() guards keep
    // sequence(a, b) from generating DESCENDING ranges on short strings
    val del0 = s"array($t)"
    val del1 =
      s"""CASE WHEN length($t) >= 1 THEN
         |  transform(sequence(1, length($t)),
         |    i -> concat(substring($t, 1, i - 1), substring($t, i + 1, length($t))))
         |ELSE cast(array() as array<string>) END""".stripMargin
    val del2 =
      s"""CASE WHEN length($t) >= 2 THEN
         |  flatten(transform(sequence(1, length($t) - 1),
         |    i -> transform(sequence(i + 1, length($t)),
         |      j -> concat(substring($t, 1, i - 1),
         |                  substring($t, i + 1, j - i - 1),
         |                  substring($t, j + 1, length($t))))))
         |ELSE cast(array() as array<string>) END""".stripMargin
    val variants = maxDist match {
      case 0 => del0 // exact equality: the string is its own signature
      case 1 => s"array_distinct(concat($del0, $del1))"
      case _ => s"array_distinct(concat($del0, $del1, $del2))"
    }
    val sigs = base.select(col(idCol),
      explode(expr(variants)).as("v"))
      .select(col(idCol), xxhash64(col("v")).as("sig"))
    sigs.select(col(idCol).as("id_x"), col("sig"))
      .join(sigs.select(col(idCol).as("id_y"), col("sig")), Seq("sig"))
      .filter(col("id_x") < col("id_y"))
      .select(col("id_x").as("id_a"), col("id_y").as("id_b"))
      .distinct()
  }

  /** Candidate (id_a, id_b) pairs for [[editDistancePairs]], pre-
    * verify — split out so the candidate volume (the thing the prefix
    * filter and the low-entropy guard exist to bound) is directly
    * measurable. `base` must carry (idCol, textCol, len).
    * `dedupe = false` skips the per-branch `distinct()` so specs can
    * measure the RAW join volume — the rows the distinct shuffle has
    * to pay for — not just the collapsed pair count. */
  private[graft] def editDistanceCandidates(base: DataFrame, maxDist: Int,
      q: Int, textCol: String, idCol: String,
      dfCapFraction: Double, dedupe: Boolean = true): DataFrame = {
    def maybeDistinct(d: DataFrame): DataFrame = if (dedupe) d.distinct() else d
    val prefixLen = q * maxDist + 1
    // the prefix guarantee needs at least prefixLen grams to survive
    // destruction: a string of length < q*(maxDist+1) has fewer than
    // q*maxDist+1 grams, ALL of which maxDist edits can destroy — such
    // strings take the length-banded path below instead
    val shortThresh = q * (maxDist + 1)
    // not persisted: a narrow projection over the caller's frame, read
    // a handful of times — cheaper to recompute than to leak a cached
    // copy per call (the operator offers no unpersist handle)
    val long = base.filter(col("len") >= shortThresh)
    // distinct q-grams per string (set semantics — the destruction
    // bound holds on sets)
    val grams = long.select(col(idCol),
      explode(array_distinct(expr(
        s"transform(sequence(1, len - ${q - 1}), i -> substring($textCol, i, $q))")))
        .as("g"))
    // global asc-df order, ties by gram text (total, deterministic);
    // per-string prefix = first prefixLen grams in that order. min_df
    // (the rarest gram's df) rides along for the low-entropy route.
    val dfTable = grams.groupBy(col("g")).agg(count(lit(1)).as("g_df"))
    // the df cap is a PLAN PARAMETER (like AQE's runtime stats), so one
    // driver-side count action inlines it as a literal — attaching it
    // as a 1-row joined scalar would plan a nested loop, and this
    // operator's contract is equi-joins only. Absolute floor of 8
    // keeps tiny corpora (where any df is a large fraction of N) on
    // the gram path.
    val dfCap = math.max(long.count() * dfCapFraction, 8.0)
    val perString = grams.join(dfTable, Seq("g"))
      .groupBy(col(idCol))
      .agg(slice(
        expr("transform(array_sort(collect_list(struct(g_df, g))), x -> x.g)"),
        1, prefixLen).as("pg"),
        min(col("g_df")).as("min_df"))
      .withColumn("low_e", col("min_df") > lit(dfCap))
    val prefix = perString.filter(!col("low_e"))
      .select(col(idCol), explode(col("pg")).as("g"))
    val candidates = maybeDistinct(
      prefix.select(col(idCol).as("id_x"), col("g"))
        .join(prefix.select(col(idCol).as("id_y"), col("g")), Seq("g"))
        .filter(col("id_x") < col("id_y"))
        .select(col("id_x").as("id_a"), col("id_y").as("id_b")))
    // low-entropy strings leave the gram index entirely: a two-sided
    // length band (len±maxDist) against EVERY long string covers
    // (low, low) and (low, gram-indexed) pairs in both directions;
    // (low, short) pairs are the short path's job (a low string within
    // maxDist of a short one has len <= shortThresh-1+maxDist, so it
    // is inside nearShort below)
    val lowIds = perString.filter(col("low_e")).select(col(idCol))
    val lowPairs = maybeDistinct(
      base.join(lowIds, Seq(idCol), "left_semi")
        .select(col(idCol).as("id_x"),
          explode(sequence(col("len") - maxDist, col("len") + maxDist)).as("lb"))
        .join(long.select(col(idCol).as("id_y"), col("len").as("lb")), Seq("lb"))
        .filter(col("id_x") =!= col("id_y"))
        .select(least(col("id_x"), col("id_y")).as("id_a"),
          greatest(col("id_x"), col("id_y")).as("id_b")))
    // strings below the gram-guarantee threshold band by LENGTH
    // against EVERY string short enough to be within maxDist (partner
    // len <= shortThresh-1+maxDist, which includes gram-covered
    // strings at the boundary). The short side emits len..len+maxDist
    // band keys; the build side is the tiny sub-threshold-plus-margin
    // slice of the corpus.
    val short = base.filter(col("len") < shortThresh)
    val nearShort = base.filter(col("len") <= shortThresh - 1 + maxDist)
    val shortPairs = maybeDistinct(
      short.select(col(idCol).as("id_x"),
          explode(sequence(col("len"), col("len") + maxDist)).as("lb"))
        .join(nearShort.select(col(idCol).as("id_y"), col("len").as("lb")), Seq("lb"))
        .filter(col("id_x") =!= col("id_y"))
        .select(least(col("id_x"), col("id_y")).as("id_a"),
          greatest(col("id_x"), col("id_y")).as("id_b")))
    candidates.unionByName(lowPairs).unionByName(shortPairs)
  }

  /** MinHash LSH index of one corpus generation — the classic
    * shingle → minhash → band pipeline in plain `functions._`:
    *
    *  1. per doc: distinct k-shingles, hashed with `numHashes`
    *     independent xxhash64 functions (seed mixed into the input);
    *     signature[i] = min hash_i over shingles;
    *  2. signatures grouped into `numBands` bands of r rows; each band
    *     key is the hash of its row values (OR-amplification on join:
    *     P[candidate] = 1−(1−j^r)^b).
    *
    * Returns (bands = (id, band, key), sets = (id, sh)) — the two
    * PERSISTABLE frames of a dedup generation: write them to parquet
    * and tomorrow's increment joins against them
    * ([[incrementalMinhashPairs]]) without re-banding history.
    *
    * Scale: only (id, band-key) longs shuffle for candidate
    * generation; shingle sets travel only to deduped candidate pairs
    * ([[jaccardVerify]]). The signature table is persisted — it feeds
    * both returned frames. Fully deterministic (hash-seeded, no RNG).
    *
    * This replaced an mllib MinHashLSH `approxSimilarityJoin` version
    * that shuffled 2^18-dim sparse vectors through every candidate
    * pair — measured 49s on a 1000-doc corpus vs ~2s for this form. */
  def minhashIndex(df: DataFrame, k: Int = 3,
      numHashes: Int = 16, numBands: Int = 8, textCol: String = "text",
      idCol: String = "doc_id"): (DataFrame, DataFrame) = {
    val (bands, sets, _) = minhashIndexWithHandle(df, k, numHashes, numBands, textCol, idCol)
    (bands, sets)
  }

  /** [[minhashIndex]] plus the persisted signature frame as an
    * UNPERSIST HANDLE — for per-increment loops
    * ([[Curation.curateSketch]]/[[Curation.incrementalCurate]]), which
    * would otherwise leak one cached signature table per batch; the
    * caller eagerly materializes what it keeps and unpersists the
    * handle. One-shot callers can ignore it (session teardown or
    * `spark.catalog.clearCache()` reaps it — the documented cache
    * contract). */
  private[graft] def minhashIndexWithHandle(df: DataFrame, k: Int = 3,
      numHashes: Int = 16, numBands: Int = 8, textCol: String = "text",
      idCol: String = "doc_id"): (DataFrame, DataFrame, DataFrame) = {
    require(numHashes % numBands == 0, "numBands must divide numHashes")
    val rowsPerBand = numHashes / numBands
    // Each shingle is string-hashed exactly ONCE (xxhash64 → [0, P));
    // the numHashes independent families are then affine transforms
    // (a_i·h + b_i) mod P over the small int64 array. The naive form —
    // per-family `xxhash64(concat(i, "#", shingle))` — rebuilds and
    // re-hashes every shingle STRING numHashes times: ~16× the per-row
    // CPU, the scan bottleneck at 100 TB. With P = 2^31−1 (Mersenne
    // prime) and a_i, b_i < P, the product stays under 2^62 — no ANSI
    // long overflow (same discipline as TextAnalysis.FpMod).
    val P = 2147483647L // 2^31 − 1
    val rnd = new scala.util.Random(0x5DEECE66DL) // fixed seed → deterministic families
    val coeffs = IndexedSeq.fill(numHashes)(
      (1L + rnd.nextInt((P - 1).toInt), rnd.nextInt(P.toInt).toLong))
    require(coeffs.distinct.size == numHashes,
      "duplicate minhash coefficient pair — families would not be independent")
    // All family mins in ONE `aggregate` fold over the hash array: the
    // accumulator is the running 16-wide min vector. The previous form —
    // numHashes separate `array_min(transform(hs, …))` projections —
    // traversed (and codegen'd a copy of) the hash array numHashes
    // times; the fold reads each shingle hash once.
    val sigInit = array(Seq.fill(numHashes)(lit(P)): _*)
    def sigMerge(acc: Column, h: Column): Column =
      array(coeffs.zipWithIndex.map { case ((a, b), i) =>
        least(element_at(acc, i + 1), pmod(h * lit(a) + lit(b), lit(P)))
      }: _*)
    // shingles arrive as 64-bit hashes (shingleHashFrame — no shingle
    // strings built); fold them mod P for the affine families and keep
    // the hash sets for exact verification (long-array intersect is
    // cheaper than string-array intersect, same collision tolerance)
    val withShingles = shingleHashFrame(df, k, textCol, idCol)
      .withColumn("sig",
        aggregate(transform(col("sh"), s => pmod(s, lit(P))),
          sigInit, sigMerge))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val banded = withShingles.select(col(idCol),
      explode(array((0 until numBands).map { b =>
        struct(lit(b).as("band"),
          xxhash64(concat_ws(",",
            (0 until rowsPerBand).map(r => col("sig").getItem(b * rowsPerBand + r)): _*)).as("key"))
      }: _*)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.key").as("key"))
    (banded, withShingles.select(col(idCol), col("sh")), withShingles)
  }

  /** Exact-Jaccard verification of banded candidate pairs: sets attach
    * only to the deduped candidates (the LSH contract — payloads never
    * ride the band join). */
  private def jaccardVerify(candidates: DataFrame, sets: DataFrame,
      maxJaccardDist: Double, idCol: String): DataFrame =
    candidates
      .join(sets.select(col(idCol).as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sets.select(col(idCol).as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard_dist",
        lit(1.0) - size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
          / size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard_dist") <= maxJaccardDist)
      .select(col("id_a"), col("id_b"), col("jaccard_dist"))

  /** CROSS-table near-dup pairs — the decontamination shape: banded
    * candidates from LEFT (eval) bands equi-joined against RIGHT
    * (train) bands only, never left↔left or right↔right (an eval
    * batch's internal near-dups are a dedup question, not a
    * contamination one). Ids must be disjoint across the two tables
    * (the caller's fixture contract — offset one side). Verification
    * is the same exact-Jaccard pass as the self-join tiers, over the
    * union of the two signature-set frames.
    *
    * Scale shape: identical to [[incrementalMinhashPairsWithIndex]] —
    * only (id, band-key) longs shuffle for candidates, shingle sets
    * attach to deduped candidate pairs only, and the right side is
    * typically a PERSISTED index generation (train is never
    * re-shingled per eval batch). Output: (id_a = left, id_b = right,
    * jaccard_dist ≤ maxJaccardDist). */
  def crossMinhashPairs(leftBands: DataFrame, leftSets: DataFrame,
      rightBands: DataFrame, rightSets: DataFrame,
      maxJaccardDist: Double = 0.3, idCol: String = "doc_id"): DataFrame = {
    val candidates = leftBands
      .select(col(idCol).as("id_a"), col("band"), col("key"))
      .join(rightBands.select(col(idCol).as("id_b"), col("band"), col("key")),
        Seq("band", "key"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    jaccardVerify(candidates, leftSets.unionByName(rightSets),
      maxJaccardDist, idCol)
  }

  /** Near-dup pairs from one corpus generation's [[minhashIndex]]:
    * band self-join for candidates, exact-Jaccard verify. */
  def minhashPairsFromIndex(banded: DataFrame, sets: DataFrame,
      maxJaccardDist: Double = 0.3, idCol: String = "doc_id"): DataFrame = {
    val candidates = banded.select(col(idCol).as("id_a"), col("band"), col("key"))
      .join(banded.select(col(idCol).as("id_b"), col("band"), col("key")),
        Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    jaccardVerify(candidates, sets, maxJaccardDist, idCol)
  }

  /** Incremental near-dup: pairs INVOLVING the delta, against a
    * PERSISTED index generation ([[minhashIndex]] frames written to
    * parquet by a previous run — the daily-ingest shape: history is
    * never re-shingled, re-signed, or re-banded; only the delta pays
    * the scan, and the band join touches history rows only where a
    * band key collides. The hash families are fixed-seed, so bands
    * computed by any run with the same (k, numHashes, numBands) are
    * compatible — persist those parameters with the index.
    *
    * Output: verified pairs where at least one side is a delta doc —
    * delta↔history and delta↔delta (history↔history pairs were
    * yesterday's output). DedupSpec proves the result equals the full
    * from-scratch run filtered to delta-touching pairs. */
  def incrementalMinhashPairs(histBands: DataFrame, histSets: DataFrame,
      delta: DataFrame, k: Int = 3, maxJaccardDist: Double = 0.3,
      numHashes: Int = 16, numBands: Int = 8, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    incrementalMinhashPairsWithIndex(histBands, histSets, delta, k,
      maxJaccardDist, numHashes, numBands, textCol, idCol)._1

  /** [[incrementalMinhashPairs]] plus the delta's own (bands, sets)
    * index frames — for callers that persist the delta's index anyway
    * ([[Curation.incrementalCurate]] appends the survivors' slice to
    * its state), so the delta is shingled/signed/banded exactly ONCE
    * per increment. */
  def incrementalMinhashPairsWithIndex(histBands: DataFrame, histSets: DataFrame,
      delta: DataFrame, k: Int = 3, maxJaccardDist: Double = 0.3,
      numHashes: Int = 16, numBands: Int = 8, textCol: String = "text",
      idCol: String = "doc_id"): (DataFrame, DataFrame, DataFrame) = {
    val (p, b, st, _) = incrementalMinhashPairsFull(histBands, histSets, delta,
      k, maxJaccardDist, numHashes, numBands, textCol, idCol)
    (p, b, st)
  }

  /** [[incrementalMinhashPairsWithIndex]] plus the delta signature
    * frame as an unpersist handle (see [[minhashIndexWithHandle]]). */
  private[graft] def incrementalMinhashPairsFull(histBands: DataFrame, histSets: DataFrame,
      delta: DataFrame, k: Int = 3, maxJaccardDist: Double = 0.3,
      numHashes: Int = 16, numBands: Int = 8, textCol: String = "text",
      idCol: String = "doc_id"): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val (dBands, dSets, handle) = minhashIndexWithHandle(delta, k, numHashes, numBands, textCol, idCol)
    val allBands = histBands.unionByName(dBands)
    val candidates = dBands.select(col(idCol).as("id_x"), col("band"), col("key"))
      .join(allBands.select(col(idCol).as("id_y"), col("band"), col("key")),
        Seq("band", "key"))
      .filter(col("id_x") =!= col("id_y"))
      .select(least(col("id_x"), col("id_y")).as("id_a"),
        greatest(col("id_x"), col("id_y")).as("id_b"))
      .distinct()
    (jaccardVerify(candidates, histSets.unionByName(dSets), maxJaccardDist, idCol),
      dBands, dSets, handle)
  }

  /** MinHash LSH near-dup pairs over one corpus (banded candidates +
    * exact-Jaccard verify) — [[minhashIndex]] composed with
    * [[minhashPairsFromIndex]]. */
  def minhashPairs(df: DataFrame, k: Int = 3, maxJaccardDist: Double = 0.3,
      numHashes: Int = 16, numBands: Int = 8, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val (banded, sets) = minhashIndex(df, k, numHashes, numBands, textCol, idCol)
    minhashPairsFromIndex(banded, sets, maxJaccardDist, idCol)
  }

  /** Paragraph grain id packing for [[paragraphFrame]]: uid =
    * doc_id · 1024 + paragraph ordinal. 1024 bounds paragraphs per
    * document (require-checked), leaving 53 bits of doc id — enough
    * for the soak's variant-strided corpora. */
  private[graft] val ParasPerDoc = 1024L

  /** The newline-delimited paragraph frame of a corpus: one row per
    * non-blank paragraph, uid = doc_id · [[ParasPerDoc]] + ordinal.
    * A document with ≥ [[ParasPerDoc]] paragraphs fails the job
    * in-plan (raise_error) rather than silently aliasing its overflow
    * ordinals into the next doc_id. Checkpointed — it feeds both the
    * banding pass and the rollup. */
  private[graft] def paragraphFrame(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        posexplode(split(col("text"), "\n")).as(Seq("para_id", "para")))
      .filter(length(trim(col("para"))) > 0)
      .select(expr(
        s"""IF(para_id < $ParasPerDoc, doc_id * $ParasPerDoc + para_id,
           |   raise_error('paragraphFrame: document exceeds $ParasPerDoc paragraphs — widen ParasPerDoc'))"""
          .stripMargin).as("uid"),
        col("para"))
      .localCheckpoint(true)

  /** Inter-document PARAGRAPH near-dedup (Rae et al. 2021 Gopher
    * §A1.2) — the grain between token-verbatim span dedup and
    * whole-document MinHash: boilerplate paragraphs (license footers,
    * navigation chrome, shared disclaimers) repeated across
    * otherwise-distinct documents. Paragraphs are the NEWLINE-
    * delimited units — the Gopher-faithful grain: a fixed token
    * window would fragment the same boilerplate at different offsets
    * in different documents (a 32-token window misaligned by δ tokens
    * shares only (30−δ)/(30+δ) of its trigrams with the aligned copy —
    * below any useful threshold by δ ≈ 8), while delimiter units are
    * self-aligning. For delimiter-free corpora the window chunker +
    * the containment tier cover the same leak class.
    *
    * Pipeline: paragraph frame → the house MinHash band machinery at
    * paragraph grain ([[minhashPairs]]: banded candidates, exact-
    * Jaccard verify at J ≥ 1 − maxJaccardDist) → CROSS-DOC pairs only
    * (same-doc repeats are q_dedup_lines' grain) → per-document
    * rollup: n_paragraphs, n_dup_paragraphs (paragraphs in ≥ 1
    * cross-doc near-dup pair), dup_fraction (one terminal division).
    *
    * 100 TB shape: everything rides the banded join — paragraph count
    * is corpus-linear, band keys are 8 bytes, no all-pairs anywhere;
    * the rollup is one partial-aggregable groupBy on the packed uid's
    * doc half. Recall vs the exact chunk-Jaccard truth set is gated
    * by q_dedup_paragraphs_bounds (the sketch-recall-bounds pattern). */
  def paragraphDupStats(docs: DataFrame,
      maxJaccardDist: Double = 0.3): DataFrame = {
    val paras = paragraphFrame(docs)
    val pairs = minhashPairs(paras, maxJaccardDist = maxJaccardDist,
        textCol = "para", idCol = "uid")
      .filter(expr(s"id_a div $ParasPerDoc") =!=
        expr(s"id_b div $ParasPerDoc"))
    val dupUids = pairs.select(col("id_a").as("uid"))
      .unionByName(pairs.select(col("id_b").as("uid"))).distinct()
      .withColumn("dup", lit(1))
    paras.select(col("uid"))
      .join(dupUids, Seq("uid"), "left")
      .select(expr(s"uid div $ParasPerDoc").as("doc_id"), col("dup"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_paragraphs"),
        count(col("dup")).as("n_dup_paragraphs"))
      .withColumn("dup_fraction",
        col("n_dup_paragraphs").cast("double") / col("n_paragraphs"))
  }

  /** Paragraph EXCISION — the detect→transform half of
    * [[paragraphDupStats]] (Rae et al. 2021 Gopher §A1.2 actually
    * REMOVES the duplicated text; the stats row only reports it), the
    * paragraph-grain sibling of [[spanExcise]]: every paragraph that
    * near-duplicates (J ≥ minJaccard) a SMALLER-uid paragraph in
    * another document is removed, and each document's text is
    * reassembled from its kept paragraphs with exact accounting.
    *
    * Keeper rule = the span-provenance rule at paragraph grain: the
    * first-seen owner survives. Spelled as PAIRWISE DOMINANCE — a
    * paragraph is removed iff it is the larger uid of ANY cross-doc
    * pair (the pair generator emits id_a < id_b, so `removed` is one
    * distinct projection of the id_b side) — which needs no recursive
    * component resolution and is therefore oracle-replayable. On
    * duplicate CLIQUES (the boilerplate geometry this tier exists
    * for) dominance and component-keeper agree exactly; on CHAINS
    * they can differ and dominance is the more conservative rule — in
    * X(2000) ~ M(8000) ~ Z(1000) with X ≁ Z, dominance removes only M
    * (the only paragraph some pair dominates) while the component
    * keeper would also remove X — i.e. dominance never removes a
    * paragraph that merely LINKS to the clique through an undominated
    * member. The two rules are NOT interchangeable on chains; this
    * operator's contract is dominance.
    *
    * `banded = false` (default) generates pairs with the EXACT PPJoin
    * tier ([[ngramJaccardPairs]], recall 1.0 — the oracle-replayable
    * spelling, so the whole row is hash-checkable); `banded = true` is
    * the documented 100 TB swap-in ([[minhashPairs]] at the same
    * threshold — identical downstream shape, recall gated by
    * q_dedup_paragraphs_bounds' ≥ 0.95 floor).
    *
    * Reassembly joins kept paragraphs with a single newline; blank
    * input lines are NOT preserved (the paragraph frame drops them —
    * the same whitespace normalization every Gopher-style rewrite
    * applies). Accounting is exact integers: n_paragraphs /
    * n_paras_removed at paragraph grain, chars_removed in paragraph
    * characters. ParagraphExciseSpec pins conservation (kept chars +
    * removed chars == total paragraph chars; kept + removed counts ==
    * total) and planted-boilerplate behavior.
    *
    * 100 TB shape: pair generation is the already-audited banded/
    * PPJoin machinery at paragraph grain; the removal set is one
    * distinct projection of the pair frame; the rewrite is ONE
    * partial-aggregable groupBy on the packed uid's doc half (the
    * in-group sort is array_sort over a ≤ [[ParasPerDoc]]-element
    * collected list, bounded by the same packing invariant the frame
    * enforces in-plan). */
  def paragraphExcise(docs: DataFrame, minJaccard: Double = 0.7,
      banded: Boolean = false): DataFrame = {
    val paras = paragraphFrame(docs)
    val (rawPairs, handles) =
      if (banded) {
        val (bands, sets, h) = minhashIndexWithHandle(paras,
          textCol = "para", idCol = "uid")
        (minhashPairsFromIndex(bands, sets,
          maxJaccardDist = 1.0 - minJaccard, idCol = "uid"), Seq(h))
      } else ngramJaccardPairsWithHandles(paras, k = 3,
        minJaccard = minJaccard, textCol = "para", idCol = "uid")
    paragraphExciseFromPairs(paras, rawPairs, handles)
  }

  /** The dominance-removal + rewrite half of [[paragraphExcise]],
    * over an ALREADY-GENERATED paragraph pair frame — package-visible
    * so the fixture-artifact cache can generate the exact-tier pairs
    * ONCE and derive both the excise output and the banded-tier gate's
    * truth set from the same frame (the hotCappedIndexDir discipline).
    * `handles`: the pair generator's persisted internals, released
    * here once the tiny removed-uid set is cut — a long session
    * running many excisions leaks nothing (the r19 self-review
    * leak). */
  private[graft] def paragraphExciseFromPairs(paras: DataFrame,
      rawPairs: DataFrame, handles: Seq[DataFrame]): DataFrame = {
    val removed = rawPairs
      .filter(expr(s"id_a div $ParasPerDoc") =!=
        expr(s"id_b div $ParasPerDoc"))
      .select(col("id_b").as("uid")).distinct()
      .localCheckpoint(true)
    handles.foreach(_.unpersist())
    paras.join(removed.withColumn("_rm", lit(1)), Seq("uid"), "left")
      .select(expr(s"uid div $ParasPerDoc").as("doc_id"),
        (col("uid") % ParasPerDoc).as("ord"), col("para"), col("_rm"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_paragraphs"),
        count(col("_rm")).as("n_paras_removed"),
        sum(when(col("_rm").isNotNull, length(col("para")))
          .otherwise(0L)).as("chars_removed"),
        concat_ws("\n", transform(
          array_sort(collect_list(
            when(col("_rm").isNull, struct(col("ord"), col("para"))))),
          x => x("para"))).as("text_clean"))
  }

  /** Distinct k-token-shingle frame with LITERAL shingle strings —
    * the oracle-replayable spelling (the q_contamination tier's
    * trigram transform at pair grain). Docs under k tokens emit
    * nothing. Package-visible: the incremental containment member
    * persists this frame for the train side. */
  private[graft] def literalShingleFrame(docs: DataFrame, k: Int,
      outId: String): DataFrame =
    docs.select(col("doc_id").as(outId), split(col("text"), " ").as("toks"))
      .withColumn("shingles",
        when(size(col("toks")) >= k,
          expr(s"transform(sequence(1, size(toks)-${k - 1}), " +
            s"i -> concat_ws(' ', slice(toks, i, $k)))"))
          .otherwise(expr("cast(array() as array<string>)")))
      .select(col(outId), explode(col("shingles")).as("sh"))
      .distinct()

  /** Asymmetric CONTAINMENT decontamination pairs — the leak geometry
    * symmetric-Jaccard screens are blind to (Lee et al. ACL'22 §6.2's
    * containment framing; the GPT-3 appendix-C leak class): an eval
    * benchmark EMBEDDED inside a much larger train page has
    * |∩|/|∪| ≈ |eval|/|train| → 0 (invisible to the J ≥ 0.7 MinHash
    * gate, which estimates symmetric Jaccard) but eval-side
    * containment |shingles(eval) ∩ shingles(train)| / |shingles(eval)|
    * ≈ 1. Emits every (eval, train) pair whose containment clears
    * `minContainNum/minContainDen`, with the exact set sizes — the
    * threshold compare is integer cross-multiplication, no float
    * class.
    *
    * Scale shape: decontamination is structurally asymmetric — eval
    * benchmarks are MBs while train is the 100 TB side — so the eval
    * shingle frame is the broadcast probe and train shingles stream
    * through ONE equi-join on the shingle key (no shuffle of the train
    * side's rows beyond the per-match pairs; the (eval, train) rollup
    * shuffles only match rows, bounded by eval volume × per-shingle
    * train df). Literal shingle strings keep the tier hash-oracled;
    * the 100 TB variant swaps in [[shingleHashFrame]]'s 8-byte keys —
    * identical plan, narrower rows (the q_contamination_hashed
    * precedent). Candidate pruning needs no LSH: the shingle equi-join
    * IS the candidate generator, and a pair with zero shared shingles
    * never materializes. */
  def containmentPairs(evalDocs: DataFrame, trainDocs: DataFrame,
      k: Int = 3, minContainNum: Int = 4, minContainDen: Int = 5): DataFrame =
    containmentPairsFromIndex(evalDocs,
      literalShingleFrame(trainDocs, k, "train_id"),
      k, minContainNum, minContainDen)

  /** [[containmentPairs]] against a PRE-BUILT (train_id, sh) shingle
    * frame — the incremental-contract member: the 100 TB train side is
    * shingled ONCE, persisted to parquet, and every later eval release
    * screens against the reload (q_contamination_fuzzy_inc's shape for
    * the containment geometry). Only the eval batch pays a scan. */
  def containmentPairsFromIndex(evalDocs: DataFrame, trainSh: DataFrame,
      k: Int = 3, minContainNum: Int = 4, minContainDen: Int = 5): DataFrame =
    containmentCore(literalShingleFrame(evalDocs, k, "eval_id"), trainSh,
      minContainNum, minContainDen)

  /** The shared containment screen body: eval shingle frame (already
    * restricted to the screening vocabulary) against a (train_id, sh)
    * index. The broadcast hint on the EVAL side is the asymmetry
    * contract, not an optimization: decontamination's small side is
    * the eval benchmark by construction, and at 100 TB the planner
    * must never be tempted to build on train (at harness scale AQE
    * would happily broadcast either). */
  private[graft] def containmentCore(evSh: DataFrame, trainSh: DataFrame,
      minContainNum: Int, minContainDen: Int): DataFrame = {
    val sizes = evSh.groupBy(col("eval_id"))
      .agg(count(lit(1)).as("n_eval_shingles"))
    broadcast(evSh).join(trainSh, Seq("sh"))
      .groupBy(col("eval_id"), col("train_id"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(sizes), Seq("eval_id"))
      .filter(col("n_shared") * minContainDen >=
        col("n_eval_shingles") * minContainNum)
      .select(col("eval_id"), col("train_id"), col("n_eval_shingles"),
        col("n_shared"),
        (col("n_shared").cast("double") / col("n_eval_shingles"))
          .as("containment"))
  }

  /** A document-frequency-capped containment index: the persisted
    * train shingle frame split into `kept` (df ≤ dfCap — the screening
    * vocabulary) and `hot` ((sh, df) rows with df > dfCap — the
    * stop-shingles, kept as metadata). `nDroppedShingles` /
    * `droppedMass` are the (count, Σdf) accounting a release manifest
    * reports for the cap. */
  final case class CappedShingleIndex(kept: DataFrame, hot: DataFrame) {
    def nDroppedShingles: Long = hot.count()
    def droppedMass: Long =
      hot.agg(coalesce(sum(col("df")), lit(0L))).head().getLong(0)
  }

  /** Split a (train_id, sh) shingle frame at document frequency
    * `dfCap` — the stop-shingle cap every production decontamination
    * pipeline applies before the containment screen (r18 verdict
    * directive 1): at 100 TB a common trigram appears in millions of
    * train documents, and the shingle equi-join materializes one match
    * row per (eval shingle × train doc containing it), so ONE
    * stop-shingle in an eval doc multiplies that doc's match volume by
    * the shingle's df. Capping bounds the fan-out of every shingle key
    * at dfCap BY CONSTRUCTION — after the cap, candidate volume ≤
    * |eval shingle rows| × dfCap, independent of corpus skew.
    *
    * The hot frame is tiny by construction (only shingles whose df
    * exceeds the cap — at a sane cap that is a stop-shingle
    * dictionary, not a corpus-scale object), so it broadcasts: the
    * kept side is ONE broadcast anti-join over the index, and the
    * screen filters the eval side against the same broadcast. The df
    * groupBy is partial-aggregable on the shingle key — the same
    * shuffle class the screen's rollup already pays. The hot frame is
    * eagerly cut: it feeds the kept anti-join, the eval-side filter,
    * and the accounting reads. */
  def dfCapShingleFrame(trainSh: DataFrame, dfCap: Long): CappedShingleIndex = {
    require(dfCap >= 1, s"dfCap must be >= 1, got $dfCap")
    val hot = trainSh.groupBy(col("sh"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap)
      .localCheckpoint(true)
    val kept = trainSh.join(broadcast(hot.select(col("sh"))), Seq("sh"), "left_anti")
    CappedShingleIndex(kept, hot)
  }

  /** [[containmentPairsFromIndex]] over a df-capped index. The
    * denominator is CAP-AWARE: eval shingles in the hot set are
    * excluded from n_eval_shingles, so containment is measured over
    * the screening vocabulary both sides actually share — an eval doc
    * that embeds a stop-shingle-heavy header still reads ≈ 1 against
    * its source (the capped bounds gate's motivating check: with the
    * naive full denominator, the dropped header shingles would dilute
    * containment below threshold and the embedded leak would pass).
    * The cost of the cap is stated, not hidden: an eval doc made
    * ENTIRELY of stop-shingles has an empty screening vocabulary and
    * cannot be screened by this tier (it emits no pairs); the hot
    * frame's accounting makes that mass visible, and such evals are
    * exactly the ones with no distinguishing content to leak. */
  def containmentPairsFromCappedIndex(evalDocs: DataFrame,
      index: CappedShingleIndex, k: Int = 3,
      minContainNum: Int = 4, minContainDen: Int = 5): DataFrame = {
    val evSh = literalShingleFrame(evalDocs, k, "eval_id")
      .join(broadcast(index.hot.select(col("sh"))), Seq("sh"), "left_anti")
    containmentCore(evSh, index.kept, minContainNum, minContainDen)
  }
}
