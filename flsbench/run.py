#!/usr/bin/env python3
"""fls benchmark: one run of one workload.

    python3 flsbench/run.py --workload scan_full --seed 1 --seconds 10 --trace 0

Run from the repository root. It builds the engine and the Scala
harness from source (cached under $CARGO_TARGET_DIR, default
`.bench_build`), writes seeded inputs, runs the workload in one JVM
(`local[N]`, N = min(4, nproc), one client thread), checks every
operation against DuckDB, and prints one JSON result as its last line:
the `end_to_end` metrics of BENCHMARK.json, or with `--trace 1` its
`per_layer` metrics. See flsbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import oracle  # noqa: E402
import plans  # noqa: E402

WORKLOADS = ("scan_full", "scan_selective", "ingest", "query_mix")
SOURCES = ("build.sbt", "project/build.properties", "src/main",
           "flsbench/build.sbt", "flsbench/project/build.properties", "flsbench/src")
BUDGET_S = 175
JVM_HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[flsbench] error: {msg}", file=sys.stderr)
    sys.exit(code)


def log(msg):
    print(f"[flsbench] {msg}", file=sys.stderr, flush=True)


def fingerprint(root):
    h = hashlib.sha256()
    for rel in SOURCES:
        path = os.path.join(root, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, out_dir):
    """Compiles engine + harness with sbt (offline) and caches the runtime
    classpath; a later run with unchanged sources reuses it."""
    stamp = fingerprint(root)
    cache = os.path.join(out_dir, "classpath.json")
    if os.path.exists(cache):
        with open(cache) as f:
            c = json.load(f)
        if c.get("sources") == stamp:
            return c["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.log.noformat=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts + [env.get("SBT_OPTS", "")]).strip()
    log("building engine and harness (sbt)")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "export Runtime/fullClasspath"],
                       cwd=os.path.join(root, "flsbench"), env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=850)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail(f"sbt build failed (exit {p.returncode})")
    log(f"built in {time.time() - t0:.0f}s")
    os.makedirs(out_dir, exist_ok=True)
    with open(cache, "w") as f:
        json.dump({"sources": stamp, "classpath": lines[-1].strip()}, f)
    return lines[-1].strip()


def run_jvm(classpath, args, work, cpus, deadline):
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-Xmn768m", "-XX:+UseParallelGC",
            "-XX:CompileThresholdScaling=0.05", "-XX:-UsePerfData",
            "-XX:ReservedCodeCacheSize=512m", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dgraft.ivf.indexRoot={work}/ivf"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "flsbench.Main", "--workload", args.workload,
              "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--work", work, "--cpus", str(cpus)])
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(f"{work}/jvm.log", "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = p.wait(timeout=max(deadline - time.time(), 10))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail("the benchmark JVM ran out of time")
    if code != 0 or not os.path.exists(f"{work}/report.json"):
        with open(f"{work}/jvm.log") as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"the benchmark JVM failed (exit {code})")
    with open(f"{work}/report.json") as f:
        return json.load(f)


def pct(xs, q):
    """Linear-interpolated percentile, q in [0, 100]."""
    s = sorted(xs)
    k = (len(s) - 1) * q / 100
    lo = math.floor(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def medians(ops):
    per_op = {}
    for o in ops:
        per_op.setdefault(o["name"], []).append(o["ms"])
    return {k: statistics.median(v) for k, v in per_op.items()}


def latency(ops):
    """Absolute wall-clock figures of the system's own ops (no parquet
    twins, no bulk writes): percentiles within each pass, median over
    passes; the geometric mean and row rate over per-op medians."""
    own = [o for o in ops if not o["twin"] and o["kind"] != "bulk"]
    passes = {}
    for o in own:
        passes.setdefault(o["pass"], []).append(o["ms"])
    med = medians(own)
    rows = {o["name"]: o["rows"] for o in own if o["rows"] > 0}
    return {
        "op_p50_ms": statistics.median(pct(v, 50) for v in passes.values()),
        "op_p90_ms": statistics.median(pct(v, 90) for v in passes.values()),
        "geomean_ms": geomean(med.values()),
        "pass_s": statistics.median(sum(v) / 1e3 for v in passes.values()),
        "rows_per_s": sum(rows.values()) / (sum(med[k] for k in rows) / 1e3) if rows else None,
        "samples": len(own),
    }


def end_to_end(report, ops, gen_s):
    """Times relative to parquet twins run next to each op in the same
    pass: load from outside the benchmark slows both sides alike, so the
    ratios hold still where wall-clock times on a shared box do not."""
    med = medians(ops)
    twins = {o["name"]: o["twin"] for o in ops if o["twin"]}
    own = {o["name"] for o in ops if not o["twin"]}
    return {
        "setup_s": gen_s + statistics.median(report["setup_write_s"]),
        "fls_time_vs_parquet": geomean([med[t] / med[p] for p, t in twins.items()]),
        "op_time_vs_parquet": geomean([med[k] for k in own]) / geomean([med[p] for p in twins]),
        "bytes_vs_parquet": report["bytes_vs_parquet"],
        "peak_rss_mb": report["peak_rss_mb"],
    }


def per_layer(report):
    m = dict(report["layers"])
    un = [o for o in report["ops"] if o["phase"] == "untraced"]
    tr = [o for o in report["ops"] if o["phase"] == "traced"]
    m["parquet.op_p50_ms"] = statistics.median(o["ms"] for o in un if o["twin"])
    m["trace.overhead_pct"] = 100 * (geomean(medians(tr).values()) / geomean(medians(un).values()) - 1)
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.time()
    root = os.getcwd()
    missing = [s for s in SOURCES if not os.path.exists(os.path.join(root, s))]
    if missing or not os.path.exists(os.path.join(root, "BENCHMARK.json")):
        fail(f"run from the repository root; missing {missing or ['BENCHMARK.json']}")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    out_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classpath = build(root, out_dir)
    deadline = time.time() + BUDGET_S

    work = os.path.join(out_dir, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.time()
    views, create = plans.prepare(args.workload, args.seed, work)
    gen_s = time.time() - t0

    cpus = min(4, len(os.sched_getaffinity(0)))
    report = run_jvm(classpath, args, work, cpus, deadline)

    con = oracle.connect(views)
    for stmt in create:
        con.execute(stmt)
    wrong = oracle.check(con, report["checks"])
    ops = report["ops"]
    failures = {o["name"]: o["error"] for o in ops if not o["ok"]}
    failures.update(wrong)
    failed = sum(1 for o in ops if o["name"] in failures)
    for name, why in sorted(failures.items()):
        print(f"[flsbench] wrong or failed: {name}: {why}")
    timed = [o for o in ops if o["phase"] in ("timed", "untraced")]
    print("[flsbench] " + json.dumps({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "host": report["host"], "nproc": os.cpu_count(), "ops_timed": len(timed),
        "error_rate": failed / len(ops), "gc_ms": report["gc_ms"],
        "setup_write_s": report["setup_write_s"], "gen_s": gen_s,
        "latency": latency(timed), "op_median_ms": dict(sorted(medians(timed).items())),
        "wall_s": time.time() - start}))

    if args.trace:
        values, wanted = per_layer(report), spec["per_layer"]
    else:
        values, wanted = end_to_end(report, timed, gen_s), spec["end_to_end"]
    absent = [m["name"] for m in wanted if m["name"] not in values]
    if absent:
        fail(f"metrics not produced: {absent}", code=3)
    print(json.dumps({
        "correct": not failures, "attempted": len(ops), "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}}))


if __name__ == "__main__":
    main()
