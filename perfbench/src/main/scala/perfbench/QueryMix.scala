package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.queries._
import Workload.median
import QueryMix.{Mix, moduleOf}

/** A closed-loop analyst session: one client runs a fixed mix of
  * registered queries over the small fixed tables, one after another,
  * each through the noop sink. The seed only permutes the order. */
final class QueryMix(spark: SparkSession, dataDir: String) extends Workload {
  val name = "query_mix"

  private var order = Seq.empty[String]
  private lazy val pinned: Map[String, String] = QueryMix.readPins(QueryMix.pinFile)
  private var observations = 0

  def build(seed: Long): String = {
    order = new Random(seed).shuffle(Mix)
    order.mkString(",").hashCode.toHexString
  }

  def fingerprint(seed: Long): String = new Random(seed).shuffle(Mix).mkString(",").hashCode.toHexString

  /** Runs one query through the noop sink; returns its fingerprint. */
  private def run(q: String, t: Tracer): String = {
    observations += 1
    val obs = Observation(s"fp$observations")
    val df = t.span("queries.plan") {
      val d = SparkEntry.queries(q)(spark, dataDir)
      if (t.enabled) d.queryExecution.executedPlan
      d
    }
    t.span("queries.exec") {
      df.observe(obs, count(lit(1)).as("n"), sum(Fingerprint.rowHash(df)).as("h"))
        .write.format("noop").mode("overwrite").save()
    }
    val m = obs.get
    s"${m("n")}:${Option(m("h")).getOrElse(0L)}"
  }

  /** One untimed pass over the mix: class loading, JIT, codegen and the
    * memoized builds inside the program (persisted curation state) are
    * done before the timed passes. */
  def warmup(): Seq[Op] = {
    val off = new Tracer(spark.sparkContext, enabled = false)
    Mix.map { q =>
      val (_, s) = Workload.time(run(q, off))
      spark.catalog.clearCache()
      Op(q, s, ok = true)
    }
  }

  /** The fingerprints the current code gives, one `name<TAB>rows:hash` line each. */
  def pins(): String = {
    val off = new Tracer(spark.sparkContext, enabled = false)
    Mix.map { q => val fp = run(q, off); spark.catalog.clearCache(); s"$q\t$fp" }.mkString("", "\n", "\n")
  }

  def pass(t: Tracer, first: Boolean): PassResult = {
    val t0 = System.nanoTime()
    val ops = order.map { q =>
      val q0 = System.nanoTime()
      val res = try Right(t.span(s"queries.${moduleOf(q)}") {
          QueryMix.layerOf.get(q).fold(run(q, t))(layer => t.span(layer)(run(q, t)))
        })
        catch { case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
      val s = (System.nanoTime() - q0) / 1e9
      spark.catalog.clearCache()
      res match {
        case Right(fp) => Op(q, s, pinned.get(q).contains(fp), s"fingerprint=$fp pinned=${pinned.get(q)}")
        case Left(err) => Op(q, s, ok = false, err)
      }
    }
    PassResult((System.nanoTime() - t0) / 1e9, ops, Map.empty)
  }

  /** Each query's median over the passes, then the median over the
    * queries, so one slow pass of one query cannot move `op_p50_s`. */
  def summary(passes: Seq[PassResult]): Summary = {
    val perQuery = passes.flatMap(_.ops).groupBy(_.name).values.map(os => median(os.map(_.seconds)))
    val p50 = median(perQuery.toSeq)
    val qps = Mix.size / median(passes.map(_.wallS))
    Summary(Seq(("mix.qpm", qps * 60, "1/min"), ("mix.query_p50_s", p50, "s"),
      ("mix.queries", Mix.size.toDouble, "count")), opP50S = p50, throughput = qps)
  }
}

object QueryMix {
  /** Core, window, join, gsod impute and text queries (quality signals,
    * MinHash dedup, incremental curation); no `_bounds` correctness gates. */
  val Mix: Seq[String] = Seq(
    "q1_agg", "q_window_rank", "q_asof_join", "q_impute_proximity", "q_text_quality",
    "q_dedup_minhash", "q_curation_incremental")

  /** The text-layer call each text query makes, as a span name in traced
    * passes: `q_text_quality` is `TextAnalysis.withQualitySignals`,
    * `q_dedup_minhash` is `Dedup.minhashPairs`, `q_curation_incremental`
    * is one delta through `Curation.incrementalCurate` against a state
    * `Curation.curateSketch` built once (in the warm-up). */
  val layerOf: Map[String, String] = Map(
    "q_text_quality" -> "text.TextAnalysis.quality",
    "q_dedup_minhash" -> "text.Dedup.minhash_pairs",
    "q_curation_incremental" -> "text.Curation.delta")

  /** Registering module of each query, as `SparkEntry.queries` merges
    * them (a later map wins a shared key). */
  val moduleOf: Map[String, String] = Seq(
    "CoreQueries" -> CoreQueries.queries, "JoinQueries" -> JoinQueries.queries,
    "WindowQueries" -> WindowQueries.queries, "ImputeQueries" -> ImputeQueries.queries,
    "MlQueries" -> MlQueries.queries, "DedupQueries" -> DedupQueries.queries,
    "SimilarityQueries" -> SimilarityQueries.queries, "TextQueries" -> TextQueries.queries,
    "MultimodalQueries" -> MultimodalQueries.queries, "ExtraQueries" -> ExtraQueries.queries,
    "IngestQueries" -> IngestQueries.queries, "AnalyticsQueries" -> AnalyticsQueries.queries,
    "QualityQueries" -> QualityQueries.queries, "PartsuppQueries" -> PartsuppQueries.queries,
    "ReleaseQueries" -> ReleaseQueries.queries
  ).flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap

  val modules: Seq[String] = Mix.map(moduleOf).distinct.sorted

  /** Pinned per-query fingerprints, next to the benchmark's sources. */
  def pinFile: String = sys.props.getOrElse("perfbench.pins", "perfbench/query_mix.pins")

  def readPins(path: String): Map[String, String] =
    new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)
      .split("\n").map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(q, fp) = l.split("\t"); q -> fp }.toMap
}
