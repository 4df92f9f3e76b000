package perfbench

import org.apache.spark.sql.SparkSession

/** One timed call into the program and whether its output checked out. */
final case class Op(name: String, seconds: Double, ok: Boolean, detail: String = "")

/** One pass over a workload: its wall time, its operations, and named
  * figures the workload measured along the way (stage times, counts). */
final case class PassResult(wallS: Double, ops: Seq[Op], stats: Map[String, Double])

/** What a workload reports from its untraced passes. `named` carries the
  * workload's own metric names; `opP50S` and `throughput` feed the
  * workload-independent end-to-end metrics. */
final case class Summary(named: Seq[(String, Double, String)], opP50S: Double,
    throughput: Double)

trait Workload {
  def name: String

  /** Generates the seeded inputs, materializes them and keeps them for
    * the passes, releasing any earlier build. Returns the inputs'
    * fingerprint. */
  def build(seed: Long): String

  /** Fingerprint of the inputs `seed` gives, without keeping them. */
  def fingerprint(seed: Long): String

  /** One-time work that should not be timed: JIT, codegen, memoized
    * builds inside the program. Returns what it ran, with times. */
  def warmup(): Seq[Op]

  /** One pass. `first` is true for the first timed pass of the run,
    * which also runs the checks too costly to repeat every pass. */
  def pass(t: Tracer, first: Boolean): PassResult

  def summary(passes: Seq[PassResult]): Summary
}

object Workload {
  def apply(name: String, spark: SparkSession, dataDir: String): Workload = name match {
    case "gsod_e2e" => new GsodE2E(spark)
    case "query_mix" => new QueryMix(spark, dataDir)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }
}
