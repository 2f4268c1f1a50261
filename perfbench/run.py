#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 12 --trace 0

Builds the engine plus the benchmark (perfbench/build.py), generates the
seeded inputs (perfbench/gen.py) under a per-run directory, runs one fresh
JVM (perfbench/src/perfbench/Main.scala) that sets up, warms to steady state
and times whole passes, checks the reference results against the DuckDB
oracle, deletes the run directory and prints one JSON line: with
`--trace 0` every end-to-end metric of BENCHMARK.json, with `--trace 1`
every per-layer metric. See perfbench/README.md.
"""
import argparse
import glob
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
import build  # noqa: E402
import gen  # noqa: E402

# Inputs and warm-up length per workload. `warm_passes` comes from the
# convergence measurement in README.md ("Warm-up"): passes after that many
# stay within the run-to-run spread of the later ones.
WORKLOADS = {
    "daily_etl": {"sf": 0.01, "warm_passes": 1, "min_passes": 1,
                  "etl": {"squad_pages": 20, "squad_rows": 20, "match_pages": 120}},
    "query_mix": {"sf": 0.01, "warm_passes": 9, "min_passes": 3},
}
CPUS = min(4, os.cpu_count() or 1)
# The heap cap build.sbt takes from SPARK_DRIVER_MEM, fixed here so runs do
# not depend on the caller's environment, and a fixed young generation.
# The heap is not pinned with -Xms: the old generation still grows with
# what the run retains. Under the 8g default, G1's pause-time sizing made
# peak RSS swing 1.8-3.1 GB between identical runs; with 2g and a 256 MB
# young generation it stays within about 6%.
HEAP_OPTIONS = ["-Xmx2g", "-Xmn256m"]
TIME_LIMIT_S = 170
JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
               "java.base/java.lang.reflect", "java.base/java.io",
               "java.base/java.net", "java.base/java.nio",
               "java.base/java.util", "java.base/java.util.concurrent",
               "java.base/java.util.concurrent.atomic",
               "java.base/sun.nio.ch", "java.base/sun.nio.cs",
               "java.base/sun.security.action", "java.base/sun.util.calendar"]


def jvm_options(tmp):
    """The JVM options of the repository's build.sbt (heap not pinned)."""
    opts = []
    for p in JDK17_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return opts + HEAP_OPTIONS + [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-XX:ReservedCodeCacheSize=1g", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]


def canon(rows):
    return sorted(tuple(repr(v) for v in r) for r in rows)


def oracle_check(data, oracle_dir):
    """Every reference result equals its DuckDB oracle over the same
    inputs (column names sorted, rows canonicalized, exact compare — the
    rule of tools/compare.py). Returns a list of failures."""
    import duckdb
    import pyarrow.parquet as pq
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data, "*.parquet")):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    sqls = json.load(open(os.path.join(oracle_dir, "oracle_sql.json")))
    bad = []
    for name, sql in sorted(sqls.items()):
        files = glob.glob(os.path.join(oracle_dir, name, "*.parquet"))
        if not files:
            bad.append(f"{name}: no result")
            continue
        tbl = pq.read_table(files[0])
        cols = sorted(tbl.column_names)
        duck = con.execute(sql).fetch_arrow_table()
        if sorted(duck.column_names) != cols:
            bad.append(f"{name}: columns {cols} vs {sorted(duck.column_names)}")
            continue
        mine = canon(zip(*[tbl.column(c).to_pylist() for c in cols]))
        theirs = canon(zip(*[duck.column(c).to_pylist() for c in cols]))
        if mine != theirs:
            bad.append(f"{name}: {len(mine)} rows differ from the oracle's {len(theirs)}")
    return bad


def _betainc(a, b, x):
    """Regularized incomplete beta function I_x(a, b), by Lentz's continued
    fraction."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    if x > (a + 1.0) / (a + b + 2.0):
        return 1.0 - _betainc(b, a, 1.0 - x)
    front = math.exp(a * math.log(x) + b * math.log1p(-x) + math.lgamma(a + b)
                     - math.lgamma(a) - math.lgamma(b)) / a
    f, c, d = 1.0, 1.0, 0.0
    for i in range(300):
        m = i // 2
        if i == 0:
            num = 1.0
        elif i % 2 == 0:
            num = m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m))
        else:
            num = -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))
        d = 1.0 / (1.0 + num * d or 1e-300)
        c = 1.0 + num / c or 1e-300
        f *= c * d
        if abs(1.0 - c * d) < 1e-12:
            break
    return front * (f - 1.0)


def quantile(xs, q):
    """Harrell-Davis estimate of the q-quantile: a beta-weighted average of
    all order statistics. With the 7 to 30 ops of one run it varies much less
    from run to run than any single order statistic."""
    xs = sorted(xs)
    n = len(xs)
    a, b = q * (n + 1), (1 - q) * (n + 1)
    cdf = [_betainc(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(xs))


def med(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(res):
    ops = [t for _, t, traced in res["ops"] if not traced]
    return {"setup_s": res["setup_s"], "pass_s": med(res["pass_s"]),
            "op_p50_s": quantile(ops, 0.5), "op_p90_s": quantile(ops, 0.9),
            "peak_rss_mb": res["peak_rss_mb"]}


def per_layer(res, names):
    passes = res["layers"]
    out = {}
    for n in names:
        if n.startswith("op."):
            out[n] = med([t for q, t, traced in res["ops"] if traced and f"op.{q}_s" == n])
        elif n == "sources.parse_rows_per_s":
            out[n] = med([p.get("sources.rows", 0) / p["sources.parse_s"]
                          for p in passes if p.get("sources.parse_s")])
        elif n == "streaming.trigger_p50_s":
            out[n] = med([t for q, t, traced in res["ops"]
                          if traced and q.endswith("_trigger")])
        elif n == "trace.overhead_ratio":
            out[n] = med(res["traced_pass_s"]) / med(res["pass_s"])
        else:
            out[n] = med([p.get(n, 0.0) for p in passes])
    return out


def main():
    # a terminated run still stops its JVM and deletes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    t_start = time.time()
    root = os.getcwd()
    spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
    if not os.path.isdir(os.path.join(root, "src/main/scala/graft")):
        print("perfbench: no engine sources (src/main/scala/graft) here", file=sys.stderr)
        return 2
    classes = build.build(root)
    wl = WORKLOADS[args.workload]

    run_dir = os.path.join(root, ".bench_build", f"run-{os.getpid()}-{time.time_ns()}")
    data, work, tmp = (os.path.join(run_dir, d) for d in ("data", "work", "tmp"))
    os.makedirs(work)
    os.makedirs(tmp)
    log_path = os.path.join(run_dir, "jvm.log")
    trace_out = os.path.join(root, ".bench_build", "traces",
                             f"{args.workload}-seed{args.seed}.jsonl")
    proc = None
    try:
        launch_ms = int(time.time() * 1000)
        expected = gen.generate(data, args.seed, wl["sf"], wl.get("etl"))
        cmd = (["java"] + jvm_options(tmp) +
               ["-cp", classes + os.pathsep + build.classpath(), "perfbench.Main",
                "--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--data", data, "--work", work, "--launch-ms", str(launch_ms),
                "--warm-passes", str(wl["warm_passes"]), "--min-passes", str(wl["min_passes"]),
                "--cpus", str(CPUS),
                "--trace-out", trace_out])
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
            proc.wait(timeout=max(10.0, TIME_LIMIT_S - (time.time() - t_start)))
        result_path = os.path.join(work, "result.json")
        if proc.returncode != 0 or not os.path.exists(result_path):
            sys.stderr.write(open(log_path).read()[-4000:])
            print(f"perfbench: JVM exited with {proc.returncode}", file=sys.stderr)
            return 1
        res = json.load(open(result_path))
        bad = oracle_check(data, os.path.join(work, "oracle"))
        for e in res["errors"] + bad:
            print(f"perfbench: {e}", file=sys.stderr)
        if args.trace:
            metrics = per_layer(res, [m["name"] for m in spec["per_layer"]])
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        else:
            metrics = end_to_end(res)
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        print(f"perfbench: {args.workload} seed {args.seed}: {len(res['pass_s'])} passes, "
              f"inputs {expected['corpus']}", file=sys.stderr)
        print(json.dumps({
            "correct": res["failed"] == 0 and not bad,
            "attempted": res["attempted"], "failed": res["failed"],
            "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units.items()}}))
        return 0
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
