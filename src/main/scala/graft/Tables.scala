package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types._

/** Loaders for the driver-provided TPC-H-ish parquet harness tables
  * (TESTDATA.md). One parquet per table under `sfDir`.
  *
  * Parquet scans are the 100 TB path: explicit column selection in each
  * query lets Catalyst prune the scan (`ReadSchema`), and filters are
  * pushed to the parquet reader (`PushedFilters`).
  *
  * == Drift-proofing ==
  * The harness regenerates `/root/testdata` between rounds and has
  * changed physical encodings before (r9: `events.ts` went from parquet
  * TIMESTAMP(NANOS) to TIMESTAMP(MICROS), silently breaking every
  * consumer that assumed the nanos-as-long workaround). Every loader now
  * goes through [[canon]], which (a) asserts the expected column set with
  * a named error on mismatch, and (b) adapts timestamp columns to a
  * stable post-load type regardless of the on-disk encoding:
  *
  *   - parquet TIMESTAMP(NANOS) loads as a nanos `long` (under
  *     `spark.sql.legacy.parquet.nanosAsLong`) → integer-divide to
  *     micros and convert;
  *   - parquet TIMESTAMP(MICROS) with isAdjustedToUTC=false loads as
  *     TIMESTAMP_NTZ → cast to the declared canonical type (the session
  *     runs in UTC, so NTZ↔LTZ casts are instant-preserving);
  *   - already-canonical columns pass through untouched.
  *
  * Canonical types are chosen per column to preserve the exact output
  * types the DuckDB oracle compare has already hash-verified:
  * `events.ts` is session-local TimestampType (what the pre-r9 nanos
  * conversion produced; hash-green through r8), while
  * `lineitem.l_shipdate` / `orders.o_orderdate` stay TIMESTAMP_NTZ
  * (their natural load type; hash-green in r9 for queries that project
  * them raw, e.g. SCD2).
  *
  * == Schema memo ==
  * Every load goes through [[parquet]], which infers a path's schema on
  * its first read in the process and reads with that schema after, so
  * a query pays no parquet footer-read job per call. This cannot hide
  * drift: tables are regenerated only between processes, and [[canon]]
  * still runs on every load.
  */
object Tables {
  /** Expected column name → canonical Spark type. `null` means "any
    * non-temporal type as loaded" (only temporal encodings have drifted
    * so far; names are the cheap invariant for everything else). */
  private val expected: Map[String, Seq[(String, DataType)]] = Map(
    "region" -> Seq("r_regionkey" -> null, "r_name" -> null),
    "nation" -> Seq("n_nationkey" -> null, "n_name" -> null, "n_regionkey" -> null),
    "customer" -> Seq("c_custkey" -> null, "c_name" -> null, "c_nationkey" -> null,
      "c_acctbal" -> null, "c_mktsegment" -> null),
    "supplier" -> Seq("s_suppkey" -> null, "s_name" -> null, "s_nationkey" -> null,
      "s_acctbal" -> null),
    "part" -> Seq("p_partkey" -> null, "p_name" -> null, "p_brand" -> null,
      "p_type" -> null, "p_size" -> null, "p_retailprice" -> null),
    "orders" -> Seq("o_orderkey" -> null, "o_custkey" -> null, "o_orderstatus" -> null,
      "o_totalprice" -> null, "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> null),
    "lineitem" -> Seq("l_orderkey" -> null, "l_partkey" -> null, "l_suppkey" -> null,
      "l_linenumber" -> null, "l_quantity" -> null, "l_extendedprice" -> null,
      "l_discount" -> null, "l_tax" -> null, "l_returnflag" -> null,
      "l_linestatus" -> null, "l_shipdate" -> TimestampNTZType),
    "events" -> Seq("event_id" -> null, "ts" -> TimestampType, "user_id" -> null,
      "event_type" -> null, "value" -> null, "props" -> null),
    "documents" -> Seq("doc_id" -> null, "text" -> null, "lang" -> null,
      "source" -> null, "n_chars" -> null),
    "embeddings" -> Seq("vec_id" -> null, "embedding" -> null, "label" -> null)
  )

  /** Adapt one column to its canonical temporal type, whatever encoding
    * the current testdata generation produced. Shared with the
    * structured-streaming events reader (same drift surface). */
  def adapt(c: String, loaded: DataType, target: DataType): Column =
    (loaded, target) match {
      case (l, t) if l == t => col(c)
      // TIMESTAMP(NANOS) read as a nanos long via the legacy conf:
      // integer `div` avoids double-precision loss on ~1.7e18 values.
      case (LongType, _) => expr(s"timestamp_micros($c div 1000)").cast(target).as(c)
      // NTZ ↔ LTZ: instant-preserving under the UTC session timezone.
      case (TimestampNTZType, TimestampType) => col(c).cast(TimestampType).as(c)
      case (TimestampType, TimestampNTZType) => col(c).cast(TimestampNTZType).as(c)
      case (l, t) =>
        throw new IllegalStateException(
          s"Tables: testdata drift — column `$c` loaded as $l, cannot adapt to canonical $t")
    }

  /** Detect column drift and canonicalize declared temporal columns.
    * Only a RENAME signature — an unexpected column appearing while an
    * expected one is missing — hard-fails with a named error (instead
    * of an opaque analysis exception deep inside a query): a rename
    * silently changes query meaning and must stop everything. Purely
    * ADDITIVE drift (a regenerated harness growing a benign new column)
    * is survivable because every query projects explicit columns — the
    * extras are dropped here so downstream `select *`-shaped code never
    * sees them. Missing columns alone are tolerated: unit-test fixtures
    * synthesize subset-schema tables (e.g. doc_id+text documents); a
    * *harness* regeneration that drops a column is pinned by
    * SourcesSpec's canonical-schema case on the real testdata dirs. */
  private def canon(name: String, df: DataFrame): DataFrame = {
    val spec = expected(name)
    val want = spec.map(_._1).toSet
    val extra = df.columns.toSet -- want
    val missing = want -- df.columns.toSet
    require(extra.isEmpty || missing.isEmpty,
      s"Tables: testdata drift in `$name` — unexpected columns " +
        s"${extra.toSeq.sorted.mkString(",")} alongside missing " +
        s"${missing.toSeq.sorted.mkString(",")} (rename signature; " +
        s"canonical: ${spec.map(_._1).mkString(",")})")
    val trimmed = if (extra.isEmpty) df else df.drop(extra.toSeq: _*)
    val have = trimmed.columns.toSet
    spec.collect { case (c, t) if t != null && have(c) && trimmed.schema(c).dataType != t => c -> t }
      .foldLeft(trimmed) { case (d, (c, t)) => d.withColumn(c, adapt(c, d.schema(c).dataType, t)) }
  }

  /** Tables whose downstream work is dominated by heavy PER-ROW
    * compute (tokenize/shingle/regex for `documents`, 64-dim float
    * math for `embeddings`) rather than by shuffles. A LOAD-TIME
    * spread of these was tried in r20 and reverted: the full-bench
    * A/B (idle pair, 379.6 s spread vs 383.0 s unspread over 321
    * queries) showed the win concentrates in a handful of narrow
    * per-row chains while every many-small-job pipeline (curation
    * folds, minhash gates) pays the extra exchange — so the spread now
    * lives in [[graft.ops.Spread]] and is applied PER OPERATOR at the
    * measured-win sites only, keeping every other scan single-pass. */
  private val perRowHeavy: Map[String, String] = Map.empty

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // Self-register the graft session functions on THIS session — the
    // lazy per-helper registration targets the thread's active session,
    // which in a multi-session app may not be the one analyzing the
    // plan (see functions.Registry). Guarded, so effectively free.
    graft.functions.Registry.registerAll(spark)
    // No-op for micros files; lets a TIMESTAMP(NANOS) regeneration load
    // as a long (which `canon` then converts) instead of erroring.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    canon(name, parquet(spark, s"$sfDir/$name.parquet"))
  }

  // path -> schema inferred on this path's first read in this process
  private val schemas = new java.util.concurrent.ConcurrentHashMap[String, StructType]

  /** `spark.read.parquet(path)` that infers the schema once per path
    * per process. Inferring a parquet schema reads the footer in a
    * one-task Spark job, paid by every plain `spark.read.parquet`;
    * reading with the memoized `.schema(…)` skips it, so a query that
    * reloads the same tables pays no footer job after the first call.
    *
    * Safe because nothing this process reads through it changes shape
    * while the process runs: the harness tables are regenerated only
    * between processes (see Drift-proofing — [[canon]] still checks
    * every load), and the curation state of
    * [[graft.queries.DedupQueries]] lives under a fresh
    * [[graft.TempDirs]] directory written once per process. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schemas.computeIfAbsent(path, p => spark.read.parquet(p).schema))
      .parquet(path)

  def events(s: SparkSession, d: String): DataFrame    = load(s, d, "events")
  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Derived `partsupp` fixture — the harness ships no partsupp
    * parquet, so the table the four inventory TPC-H shapes (Q9/Q11/
    * Q16/Q20) join against is DERIVED deterministically from `part` ×
    * |supplier|, dbgen-inspired (TPC-H spec §4.2.3: 4 suppliers per
    * part via a modular stride): for i ∈ 0..3,
    *   ps_suppkey       = (p_partkey + i·⌊S/4⌋) mod S   (0-based keys)
    *   ps_availqty      = 1 + (p_partkey·7 + i·13) mod 9999
    *   ps_supplycost_c  = 100 + (p_partkey·31 + i·17) mod 99901 cents
    * All-integer arithmetic on positive operands → bit-identical in
    * Spark and in the DuckDB oracle CTE that mirrors this formula
    * (PartsuppQueries.psCte), so oracled queries can hash-compare.
    * The 4 suppkeys are distinct for any S ≥ 4 (stride·Δ < S for
    * Δ ≤ 3), giving a true (ps_partkey, ps_suppkey) primary key;
    * supplycost spans $1..$1000 like dbgen.
    *
    * Scale shape: |partsupp| = 4·|part| — dimension-tier (part is
    * already broadcast house-wide). The |supplier| count enters as a
    * broadcast 1-row aggregate, never a driver-side action. Callers
    * that filter part (Q9's name filter, Q20's prefix) pass the
    * FILTERED frame to [[partsuppFrom]] so the filter runs before the
    * 4× explode — the pushdown a 100 TB plan wants. */
  def partsuppFrom(p: DataFrame, sup: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    p.select(col("p_partkey"))
      .crossJoin(broadcast(sup.agg(count(lit(1)).as("s_n"))))
      .select(col("p_partkey"), col("s_n"),
        explode(array((0 to 3).map(lit(_)): _*)).as("i"))
      .select(
        col("p_partkey").as("ps_partkey"),
        expr("CAST((p_partkey + i * (s_n div 4)) % s_n AS BIGINT)")
          .as("ps_suppkey"),
        expr("CAST(1 + (p_partkey * 7 + i * 13) % 9999 AS INT)")
          .as("ps_availqty"),
        expr("CAST(100 + (p_partkey * 31 + i * 17) % 99901 AS BIGINT)")
          .as("ps_supplycost_c"))
  }

  def partsupp(s: SparkSession, d: String): DataFrame =
    partsuppFrom(part(s, d), supplier(s, d))
}
