package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession
import Workload.{median, time}

/** Runs one workload for a time budget and writes every metric to a
  * JSON file. Usage (run.py builds the classpath and calls this):
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --data DIR --out FILE [--spans FILE] [--pin FILE]
  *
  * Untraced (`--trace 0`): set up, then timed passes until the budget
  * would be exceeded; reports the end-to-end metrics. Traced
  * (`--trace 1`): untraced and traced passes alternate; the traced ones
  * give the per-layer metrics, the difference of the two pass walls is
  * the tracing overhead. */
object Main {
  /** Input builds per run; setup_s takes their median. */
  val SetupReps = 3

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%7.1f] $msg")

  private final case class Done(result: PassResult, traced: Boolean, pass: Int,
      heapMb: Double, residualMb: Double)

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", opts.getOrElse("warehouse", "spark-warehouse"))
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val listener = new SpanListener
    if (trace) sc.addSparkListener(listener)
    val wl = Workload(workload, spark, opts("data"))

    opts.get("pin").foreach { path =>
      Files.write(Paths.get(path), wl.asInstanceOf[QueryMix].pins().getBytes(StandardCharsets.UTF_8))
      spark.stop()
      return
    }

    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    log("session ready")
    val builds = (1 to SetupReps).map { _ =>
      val b = time(wl.build(seed))
      log(f"inputs built in ${b._2}%.2f s")
      b
    }
    val buildS = median(builds.map(_._2))
    val (warmOps, warmS) = time(wl.warmup())
    log(f"warm-up done in $warmS%.2f s")
    val setupS = sessionS + buildS + warmS
    val fps = builds.map(_._1).distinct
    val otherFp = wl.fingerprint(seed + 1)
    val inputsOk = fps.size == 1 && otherFp != fps.head

    val tracer = new Tracer(sc, enabled = true)
    val off = new Tracer(sc, enabled = false)
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    val done = mutable.ArrayBuffer.empty[Done]
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var lastIter = 0L
    // traced runs alternate untraced and traced passes: at least an
    // untraced, a traced and another untraced one. The overhead compares
    // the traced passes with the untraced ones after the first, which may
    // run cold (gsod_e2e) or not yet settled (query_mix).
    def enough = done.size >= (if (trace) 3 else 1)
    while (!enough || System.nanoTime() + lastIter <= deadline) {
      val i0 = System.nanoTime()
      val i = done.size
      val traced = trace && i % 2 == 1
      heapPools.foreach(_.resetPeakUsage())
      val r =
        if (traced) { tracer.pass = i; tracer.span("pass")(wl.pass(tracer, first = i == 0)) }
        else wl.pass(off, first = i == 0)
      val heapMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
      spark.catalog.clearCache()
      val residualMb = sc.getExecutorMemoryStatus.values
        .map { case (max, free) => max - free }.sum / 1048576.0
      done += Done(r, traced, i, heapMb, residualMb)
      log(f"pass $i (traced=$traced) wall ${r.wallS}%.2f s ${r.ops.map(o => f"${o.name}=${o.seconds}%.2f").mkString(" ")}")
      lastIter = System.nanoTime() - i0
    }
    val windowS = (System.nanoTime() - t0) / 1e9
    PerfbenchBus.drain(sc)

    val plain = done.filterNot(_.traced).toSeq
    val ops = done.flatMap(_.result.ops)
    val failures = ops.filterNot(_.ok)
    val summary = wl.summary(plain.map(_.result))

    val endToEnd = Seq(
      "setup_s" -> setupS,
      "pass_s" -> median(plain.map(_.result.wallS)),
      "op_p50_s" -> summary.opP50S,
      "throughput_per_s" -> summary.throughput)

    val perLayer = if (trace) Layers.metrics(tracer, listener.snapshot(), cores,
      done.filter(_.traced).map(d => d.pass -> d.result).toSeq,
      plain.drop(1).map(_.result)) ++ Seq(
      "heap_peak_mb" -> median(plain.map(_.heapMb)),
      "cache.residual_mb" -> done.map(_.residualMb).max,
      "fail_ratio" -> failures.size.toDouble / ops.size)
    else Nil

    val json = Json.obj(
      "correct" -> (failures.isEmpty && inputsOk),
      "attempted" -> ops.size,
      "failed" -> failures.size,
      "end_to_end" -> Json.obj(endToEnd: _*),
      "per_layer" -> Json.obj(perLayer: _*),
      "named" -> Json.obj(summary.named.map { case (k, v, u) => k -> Json.obj("value" -> v, "unit" -> u) }: _*),
      "setup" -> Json.obj("session_s" -> sessionS, "build_s" -> builds.map(_._2),
        "warmup_s" -> warmS, "warmup_ops" -> warmOps.map(o => Seq(o.name, o.seconds))),
      "inputs" -> Json.obj("fingerprint" -> fps.mkString(","), "other_seed_fingerprint" -> otherFp,
        "same_seed_identical" -> (fps.size == 1), "other_seed_differs" -> (otherFp != fps.head)),
      "passes" -> done.map(d => Json.obj("pass" -> d.pass, "traced" -> d.traced,
        "wall_s" -> d.result.wallS, "heap_peak_mb" -> d.heapMb, "residual_mb" -> d.residualMb,
        "stats" -> Json.obj(d.result.stats.toSeq: _*),
        "ops" -> d.result.ops.map(o => Seq(o.name, o.seconds, o.ok)))).toSeq,
      "window_s" -> windowS,
      "failures" -> ((if (inputsOk) Nil else Seq("inputs: fingerprint self-check failed")) ++
        failures.take(20).map(o => s"${o.name}: ${o.detail}")),
      "env" -> Json.obj("cores" -> cores, "java" -> System.getProperty("java.version"),
        "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString))
    Files.write(Paths.get(opts("out")), Json.render(json).getBytes(StandardCharsets.UTF_8))
    opts.get("spans").filter(_ => trace).foreach { path =>
      Files.write(Paths.get(path),
        Json.render(Layers.spansJson(tracer, listener.snapshot())).getBytes(StandardCharsets.UTF_8))
    }
    spark.stop()
  }
}

/** The per-layer metrics, from the traced passes' spans and counters. */
object Layers {
  def metrics(tracer: Tracer, own: Map[Int, Counters], cores: Int,
      traced: Seq[(Int, PassResult)], plain: Seq[PassResult]): Seq[(String, Double)] = {
    val incl = tracer.inclusive(own)
    val passIds = traced.map(_._1)
    def perPass(name: String)(f: (Span, Counters) => Double): Double =
      median(passIds.map(p => tracer.spans.filter(s => s.pass == p && s.name == name)
        .map(s => f(s, incl(s.id))).sum))
    val secs: (Span, Counters) => Double = (s, _) => s.seconds
    val jobs: (Span, Counters) => Double = (_, c) => c.jobs.toDouble
    val mb = 1048576.0
    def stat(name: String): Double = {
      val xs = traced.flatMap(_._2.stats.get(name))
      if (xs.isEmpty) 0.0 else median(xs)
    }
    val queryModules = QueryMix.modules.map(m => s"queries.$m.s" -> perPass(s"queries.$m")(secs))
    val tracedWall = median(traced.map(_._2.wallS))
    val plainWall = median(plain.map(_.wallS))
    Seq(
      "gsod.Clean.s" -> perPass("gsod.Clean")(secs),
      "gsod.Clean.jobs" -> perPass("gsod.Clean")(jobs),
      "gsod.Prepare.plan_mb" -> stat("gsod.Prepare.plan_mb"),
      "gsod.Impute.s" -> perPass("gsod.Impute")(secs),
      "gsod.Impute.jobs" -> perPass("gsod.Impute")(jobs),
      "gsod.Impute.shuffle_mb" -> perPass("gsod.Impute")((_, c) => c.shuffleWriteBytes / mb),
      "gsod.Impute.rows_filled" -> stat("gsod.Impute.rows_filled"),
      "gsod.Impute.proximity.s" -> perPass("gsod.Impute.proximity")(secs),
      "gsod.Impute.seasonal.s" -> perPass("gsod.Impute.seasonal")(secs),
      "gsod.Impute.station_median.s" -> perPass("gsod.Impute.station_median")(secs),
      "gsod.Features.plan.s" -> perPass("gsod.Features.plan")(secs),
      "gsod.Features.s" -> perPass("gsod.Features")(secs),
      "gsod.Train.lr.s" -> perPass("gsod.Train.lr")(secs),
      "gsod.Train.gbt.s" -> perPass("gsod.Train.gbt")(secs),
      "gsod.Train.eval.s" -> perPass("gsod.Train.eval")(secs),
      "gsod.Train.jobs" -> perPass("gsod.Train")(jobs),
      "text.TextAnalysis.quality.s" -> perPass("text.TextAnalysis.quality")(secs),
      "text.Dedup.minhash_pairs.s" -> perPass("text.Dedup.minhash_pairs")(secs),
      "text.Dedup.minhash_pairs.jobs" -> perPass("text.Dedup.minhash_pairs")(jobs),
      "text.Curation.delta.s" -> perPass("text.Curation.delta")(secs),
      "text.Curation.delta.jobs" -> perPass("text.Curation.delta")(jobs),
      "queries.plan_s" -> perPass("queries.plan")(secs),
      "queries.exec_s" -> perPass("queries.exec")(secs),
      "spark.jobs" -> perPass("pass")(jobs),
      "spark.stages" -> perPass("pass")((_, c) => c.stages.toDouble),
      "spark.tasks" -> perPass("pass")((_, c) => c.tasks.toDouble),
      "spark.task_busy_s" -> perPass("pass")((_, c) => c.busyMs / 1e3),
      "spark.core_util" -> perPass("pass")((s, c) => c.busyMs / 1e3 / (s.seconds * cores)),
      "spark.sched_wait_s" -> perPass("pass")((_, c) => c.schedWaitMs / 1e3),
      "spark.shuffle_write_mb" -> perPass("pass")((_, c) => c.shuffleWriteBytes / mb),
      "spark.spill_mb" -> perPass("pass")((_, c) => c.spillBytes / mb),
      "spark.gc_s" -> perPass("pass")((_, c) => c.gcMs / 1e3),
      "spark.failed_tasks" -> perPass("pass")((_, c) => c.failedTasks.toDouble),
      "trace.untraced_pass_s" -> plainWall,
      "trace.traced_pass_s" -> tracedWall,
      "trace.overhead_s" -> (tracedWall - plainWall),
      "trace.overhead_share" -> (tracedWall - plainWall) / plainWall
    ) ++ queryModules
  }

  /** Every span with its self time and its inclusive Spark counters. */
  def spansJson(tracer: Tracer, own: Map[Int, Counters]): Json.Value = {
    val incl = tracer.inclusive(own)
    val self = tracer.selfSeconds
    val origin = tracer.spans.headOption.fold(0L)(_.startNs)
    tracer.spans.map { s =>
      val c = incl(s.id)
      Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "pass" -> s.pass,
        "start_s" -> (s.startNs - origin) / 1e9, "end_s" -> (s.endNs - origin) / 1e9,
        "dur_s" -> s.seconds, "self_s" -> self(s.id),
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "task_busy_s" -> c.busyMs / 1e3, "sched_wait_s" -> c.schedWaitMs / 1e3,
        "gc_s" -> c.gcMs / 1e3, "shuffle_write_mb" -> c.shuffleWriteBytes / 1048576.0,
        "spill_mb" -> c.spillBytes / 1048576.0, "failed_tasks" -> c.failedTasks)
    }.toSeq
  }
}

/** Minimal JSON writer for the result files. */
object Json {
  type Value = Any
  final case class Obj(fields: Seq[(String, Value)])
  def obj(fields: (String, Value)*): Obj = Obj(fields)

  private def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def render(v: Value): String = v match {
    case null => "null"
    case Obj(fs) => fs.map { case (k, x) => "\"" + str(k) + "\":" + render(x) }.mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(render).mkString("[", ",", "]")
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => "\"" + str(s) + "\""
    case other => "\"" + str(other.toString) + "\""
  }
}
