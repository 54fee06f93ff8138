"""Benchmark entry point.

One run:
    python3 perfbench/run.py --workload ga4_incremental --seed 1 --seconds 30 --trace 0

builds the engine and the benchmark (perfbench/build.py), runs one workload in
one JVM and prints, as its last stdout line, one JSON object with `correct`,
`attempted`, `failed` and `metrics`. `--trace 0` reports the end-to-end
metrics of BENCHMARK.json, `--trace 1` the per-layer metrics and writes the
spans and the per-layer roll-up under .bench_build/perfbench-results/.

Steadiness check:
    python3 perfbench/run.py --steady --workload ga4_incremental --runs 10 --seed 100

runs the workload once per seed (seed, seed+1, ...), prints each end-to-end
metric's median and interquartile spread relative to the median against the
bound recorded in BENCHMARK.json, then makes one traced run to report the
tracing overhead. It exits non-zero when a spread is over its bound.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the source tree
import build  # noqa: E402

WORKLOADS = ["ga4_incremental", "ga4_range_extract", "corpus_nightly",
             "ga4_incremental_jdbc"]
CHILD_TIMEOUT_S = 170

# Same module openings and system properties the repository's own forked
# runs use (build.sbt `javaOptions`): Spark 4 on JDK 17 needs them when a
# session is built outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def result_dir():
    return os.path.join(build.BUILD, "perfbench-results")


def java_argv(jar, work, heap, cds):
    """The JVM command line up to the main class."""
    argv = ["java"] + cds + ["-Xlog:disable", "-Xlog:all=warning,cds*=off:stderr"]
    for p in ADD_OPENS:
        argv += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return argv + [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Xmx{heap}",
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dderby.system.home=" + work,
        "-Dderby.stream.error.file=" + os.path.join(work, "derby.log"),
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-cp", jar + os.pathsep + build.spark_jars(),
    ]


def child_env(work):
    # The engine runs at its shipped configuration: no measurement knobs
    # leak in from the caller's environment.
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    return env


def fresh_dir(name):
    work = os.path.join(build.BUILD, "perfbench-work", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    return work


def ensure_archive(jar, digest, heap):
    """Class-data sharing: once per build, one JVM sets up and runs one
    operation of every workload BENCHMARK.json names and dumps the classes
    it loaded into an archive; measured runs map it instead of loading and
    verifying Spark's classes again. This shortens JVM start-up only: the
    engine's configuration and its warmed-up code are unchanged, and every
    measured run starts from the same archive.
    """
    jsa = os.path.join(build.BUILD, f"perfbench-{digest[:16]}.jsa")
    if os.path.exists(jsa):
        return [f"-XX:SharedArchiveFile={jsa}"]
    if os.path.exists(jsa + ".failed"):
        return []
    for old in os.listdir(build.BUILD):  # archives of earlier builds
        if old.startswith("perfbench-") and ".jsa" in old:
            os.remove(os.path.join(build.BUILD, old))
    work = fresh_dir("archive-training")
    argv = java_argv(jar, work, heap, [f"-XX:ArchiveClassesAtExit={jsa}.tmp"]) + [
        "perfbench.Main", "--workload", "archive-training", "--seed", "1", "--seconds", "1",
        "--trace", "0", "--work", work, "--results", result_dir(),
        "--train", ",".join(w["name"] for w in load_bounds()[0]["workloads"])]
    try:
        code = subprocess.run(argv, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                              env=child_env(work), cwd=work, timeout=600).returncode
    except subprocess.TimeoutExpired:
        code = 124
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code == 0 and os.path.exists(jsa + ".tmp"):
        os.replace(jsa + ".tmp", jsa)
        return [f"-XX:SharedArchiveFile={jsa}"]
    print(f"run: class-data-sharing archive training failed (exit {code}); "
          "running without it", file=sys.stderr)
    if os.path.exists(jsa + ".tmp"):
        os.remove(jsa + ".tmp")
    open(jsa + ".failed", "w").close()
    return []


def run_once(workload, seed, seconds, trace, heap="2g"):
    """Run one workload in a fresh JVM; return (result dict, exit code)."""
    jar, digest = build.build()
    cds = ensure_archive(jar, digest, heap)
    work = fresh_dir(f"{workload}-{seed}")
    os.makedirs(result_dir(), exist_ok=True)
    java = java_argv(jar, work, heap, cds) + [
        "perfbench.Main",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--work", work, "--results", result_dir(),
    ]
    try:
        proc = subprocess.run(java, stdout=subprocess.PIPE, stderr=sys.stderr,
                              env=child_env(work), cwd=work, timeout=CHILD_TIMEOUT_S, text=True)
        code, out = proc.returncode, proc.stdout
    except subprocess.TimeoutExpired as e:
        code, out = 124, e.stdout.decode() if isinstance(e.stdout, bytes) else (e.stdout or "")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    for ln in lines[:-1]:
        print(ln, file=sys.stderr)
    result = None
    if code == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        if lines:
            print(lines[-1], file=sys.stderr)
        return None, code or 1
    return result, 0


def load_bounds():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return spec, {m["name"]: m for m in spec["end_to_end"]}


def steady(args):
    _, bounds = load_bounds()
    values = {}
    per_run = []
    for i in range(args.runs):
        seed = args.seed + i
        t0 = time.time()
        res, code = run_once(args.workload, seed, args.seconds, 0)
        if res is None:
            print(f"steady: run with seed {seed} failed (exit {code})", file=sys.stderr)
            return 1
        per_run.append((seed, res))
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(f"steady: seed {seed} correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} wall={time.time() - t0:.1f}s "
              + " ".join(f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()),
              file=sys.stderr, flush=True)
    ok = all(r["correct"] and r["failed"] == 0 for _, r in per_run)
    print(f"{'metric':<22} {'unit':<8} {'median':>12} {'q1':>12} {'q3':>12} "
          f"{'spread':>8} {'bound':>6}  verdict")
    for name, vals in values.items():
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        b = bounds.get(name)
        bound = b["bound"] if b else float("nan")
        if spread <= bound / 3:
            verdict = "steady"
        elif spread <= bound:
            verdict = "within bound"
        else:
            verdict = "OVER BOUND"
            ok = False
        unit = b["unit"] if b else "?"
        print(f"{name:<22} {unit:<8} {med:>12.6g} {q1:>12.6g} {q3:>12.6g} "
              f"{spread:>8.4f} {bound:>6}  {verdict}")
    if not args.no_trace:
        seed = per_run[0][0]
        traced, _ = run_once(args.workload, seed, args.seconds, 1)
        untraced = per_run[0][1]["metrics"]["rows_per_s"]["value"]
        if traced is not None and "trace.rows_per_s" in traced["metrics"]:
            t = traced["metrics"]["trace.rows_per_s"]["value"]
            print(f"tracing overhead (seed {seed}): untraced rows_per_s {untraced:.6g}, "
                  f"traced {t:.6g}, difference {untraced - t:.6g} "
                  f"({(untraced - t) / untraced:+.2%} of untraced)")
        else:
            print("tracing overhead: traced run failed")
            ok = False
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--steady", action="store_true")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--no-trace", action="store_true",
                    help="with --steady: skip the traced overhead run")
    args = ap.parse_args()
    if args.seconds is None:
        args.seconds = load_bounds()[0]["run_seconds"]
    if args.steady:
        return steady(args)
    res, code = run_once(args.workload, args.seed, args.seconds, args.trace)
    if res is None:
        return code or 1
    print(json.dumps(res), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
