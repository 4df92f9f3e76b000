#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the repository's main sources
together with the harness in perfbench/src (sbt, offline) into
.bench_build/, rebuilding only when a source changed, then runs the
harness on one JVM. The last stdout line is the result:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are BENCHMARK.json's end_to_end list, with --trace 1 its per_layer list.
The full record (every named metric, setup breakdown, per-pass figures,
environment) goes to .bench_build/runs/, and traced runs also write
their spans there.

    python3 perfbench/run.py --pin   # rewrite perfbench/query_mix.pins
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "target", "scala-2.13", "classes")
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JVM_TIMEOUT_S = 165  # a run must end within 180 s, plus the build on a first run


def spark_home():
    """SPARK_HOME, or the installation that owns `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("no Spark installation: set SPARK_HOME")
    return home


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        files += sorted(glob.glob(os.path.join(d, "**", "*.*"), recursive=True))
    return [f for f in files if os.path.isfile(f)]


def source_hash():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(spark):
    """Compiles when the sources differ from the last successful build."""
    stamp = os.path.join(OUT, "build.stamp")
    digest = source_hash()
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and open(stamp).read() == digest:
        return digest
    log("building (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark)
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
                        "-Dsbt.server.forcestart=false", "compile"],
                       cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=850)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build failed")
    with open(stamp, "w") as fh:
        fh.write(digest)
    log(f"built in {time.time() - t0:.0f} s")
    return digest


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return [float(x) for x in fh.read().split()[:3]]
    except OSError:
        return None


def steal_s():
    """CPU time the hypervisor gave to other guests, all CPUs, since boot."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(args, timeout, spark):
    tmp = os.path.join(OUT, "tmp")  # inputs and Spark scratch of the last run only
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = (["java"] + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
              f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
              f"-Dperfbench.pins={os.path.join(BENCH, 'query_mix.pins')}",
              "-cp", f"{CLASSES}:{os.path.join(spark, 'jars', '*')}",
              "perfbench.Main", "--data", os.path.join(BENCH, "data", "sf0.01"),
              "--warehouse", os.path.join(OUT, "warehouse")] + args)
    logfile = os.path.join(OUT, "runs", "jvm.log")
    with open(logfile, "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=err, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"JVM timed out after {timeout} s")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0:
        with open(logfile) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"JVM exited with {rc}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true", help="rewrite the query_mix fingerprints")
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"not a checkout of the repository: {need} is missing")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = {w["name"] for w in spec["workloads"]}
    if not a.pin and a.workload not in names:
        raise SystemExit(f"unknown workload {a.workload!r}; one of {sorted(names)}")

    spark = spark_home()
    os.makedirs(os.path.join(OUT, "runs"), exist_ok=True)
    digest = build(spark)
    if a.pin:
        run_jvm(["--workload", "query_mix", "--seed", "0", "--seconds", "0", "--trace", "0",
                 "--pin", os.path.join(BENCH, "query_mix.pins")], JVM_TIMEOUT_S, spark)
        return

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    out = os.path.join(OUT, "runs", f"{tag}.json")
    if os.path.exists(out):
        os.remove(out)
    load_start, steal_start = loadavg(), steal_s()
    run_jvm(["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", str(a.trace), "--out", out,
             "--spans", os.path.join(OUT, "runs", f"{tag}.spans.json")], JVM_TIMEOUT_S, spark)
    with open(out) as fh:
        rec = json.load(fh)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    measured = rec["per_layer"] if a.trace else rec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in measured]
    if missing:
        raise SystemExit(f"metrics not measured: {missing}")
    steal_end = steal_s()
    rec["env"].update(nproc=os.cpu_count(), loadavg_start=load_start, loadavg_end=loadavg(),
                      steal_s=None if steal_start is None else round(steal_end - steal_start, 2),
                      git_commit=git_commit(), source_sha256=digest, seed=a.seed,
                      workload=a.workload, trace=a.trace, seconds=a.seconds)
    with open(out, "w") as fh:
        json.dump(rec, fh, indent=1)

    for k, v in rec["named"].items():
        log(f"{k} = {v['value']:.6g} {v['unit']}")
    for f in rec["failures"]:
        log(f"FAILED {f}")
    log(f"env {json.dumps(rec['env'])}")
    print(json.dumps({
        "correct": bool(rec["correct"]),
        "attempted": int(rec["attempted"]),
        "failed": int(rec["failed"]),
        "metrics": {m["name"]: {"value": measured[m["name"]], "unit": m["unit"]} for m in wanted},
    }))


if __name__ == "__main__":
    main()
