#!/usr/bin/env python3
"""Benchmark of the graft engine: three workloads driven through its public
entry points (PipelineRunner.run, Orchestrator.run, SparkEntry.queries).

One run:

    python3 perfbench/run.py --workload pipeline_daily --seed 7 --seconds 10 --trace 0

builds the engine and the harness from source (once per source tree), makes
the workload's inputs from the seed, runs the harness JVM on local[nproc],
checks the outputs, and prints the metrics. The last line of standard output
is one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the per-layer
ones. The exit code is 0 only when every unit ran and every check passed.

Without --workload, every workload runs untraced and then traced, and the
tracing overhead (traced minus untraced pass time) is printed for each.

Steadiness:

    python3 perfbench/run.py --steady 5 [--seed 1] [--workload pipeline_daily]

repeats the workload (every workload without --workload) untraced on seeds
1..N and traced twice on seed 1, then prints each metric's median and
quartiles, the tracing overhead, and every count that differs between the
two traced runs.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402  (the generator sits next to this file)

# Per-run deadline; a run that is not done by then is killed and fails.
DEADLINE_S = 170
JVM_HEAP = "3g"

WORKLOADS = {
    # trading days per pass, symbols, ticks per symbol and day
    "pipeline_daily": {"days": 3, "symbols": 300, "ticks": 40},
    "stream_daily": {"days": 3, "symbols": 300, "ticks": 40, "files_per_day": 2},
    "analytics_mix": {"sf": 0.001, "queries": [
        "x163_bfs_hops", "x213_bradley_terry", "x103_prefix_filter",
        "x67_bm25_retrieval", "x226_ivf_recall_drift", "x138_hll_rolling_distinct",
        "x92_k_anonymize", "q06_window_rank", "q03_star_join"]},
}

END_TO_END = ["setup_s", "unit_p50_s", "cpu_s", "peak_live_heap_mb"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log("perfbench: " + msg)
    sys.exit(code)


# ------------------------------------------------------------------ build

def _sources():
    """Every file the build reads, relative to the checkout root."""
    out = []
    for top in ["build.sbt", "project", "src/main", "perfbench/build.sbt",
                "perfbench/project", "perfbench/src"]:
        p = os.path.join(ROOT, top)
        if os.path.isfile(p):
            out.append(top)
        for d, dirs, files in os.walk(p):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in files]
    return sorted(out)


def build():
    """Compile the engine and the harness once per source tree; return the
    java command prefix (classpath and JVM options) sbt exported."""
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp_file = os.path.join(HERE, "target", "launch.stamp")
    h = hashlib.sha256()
    for rel in _sources():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    if not (os.path.exists(launch) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=os.environ.get(
            "SBT_OPTS", "-Dsbt.override.build.repos=true "
            "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
            " -Dsbt.offline=true -Xmx2g"))
        log("perfbench: building engine and harness with sbt")
        t0 = time.time()
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "launcher"],
                           cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=850)
        if r.returncode != 0 or not os.path.exists(launch):
            fail("build failed")
        with open(stamp_file, "w") as f:
            f.write(stamp)
        log(f"perfbench: built in {time.time() - t0:.0f} s")
    lines = open(launch).read().splitlines()
    return lines[0], lines[1:]


# ------------------------------------------------------------------ oracle

def oracle_check(fixtures, oracle_file, row_counts):
    """Each query's row count must equal its DuckDB oracle's, and be > 0."""
    import duckdb
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{fixtures}/{t}.parquet'")
    oracle = json.load(open(oracle_file))
    bad = []
    for name, got in sorted(row_counts.items()):
        try:
            want = con.sql(f"SELECT count(*) FROM ({oracle[name]})").fetchone()[0]
        except Exception as e:  # an oracle that cannot run is a failed check
            bad.append(f"{name}: oracle error {e}")
            continue
        if got != want or got == 0:
            bad.append(f"{name}: {got} rows, oracle {want}")
    return bad


# ------------------------------------------------------------------ one run

def run_once(workload, seed, seconds, trace):
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the engine's sources are not next to the benchmark "
             f"(expected build.sbt and src/main/scala/graft under {ROOT})")
    spec = WORKLOADS[workload]
    cp, jvm_opts = build()

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    in_dir, out_dir, tmp = (os.path.join(work, d) for d in ("in", "out", "tmp"))
    for d in (in_dir, out_dir, tmp):
        os.makedirs(d)
    t0 = time.time()
    params = {"workload": workload, "seconds": seconds, "trace": trace,
              "cores": cores, "in": in_dir, "out": out_dir,
              "graft_src": os.path.join(ROOT, "src", "main", "scala", "graft")}
    if workload == "analytics_mix":
        gen.tables(in_dir, seed, spec["sf"])
        params["queries"] = spec["queries"]
    else:
        fmt = "csv" if workload == "pipeline_daily" else "parquet"
        params["symbols"] = spec["symbols"]
        params["tallies"] = gen.ticks(in_dir, seed, spec["days"], spec["symbols"],
                                      spec["ticks"], spec.get("files_per_day", 1), fmt)
    log(f"perfbench: generated {workload} inputs for seed {seed} in {time.time() - t0:.1f} s")
    pfile, rfile = os.path.join(work, "params.json"), os.path.join(work, "result.json")
    with open(pfile, "w") as f:
        json.dump(params, f)

    # peak_live_heap_mb reads the heap after each collection: a fixed young
    # generation brings a collection every 128 MB allocated, so the peak is
    # sampled densely, not caught by chance. The harness makes a full
    # collection before each unit; a free-ratio cap of 100% keeps it from
    # shrinking the heap the next unit starts with.
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-XX:MaxHeapFreeRatio=100", "-Xmn128m",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse")] + jvm_opts +
           ["-cp", cp, "perfbench.Main", pfile, rfile])
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        code = proc.wait(timeout=max(10, DEADLINE_S - (time.time() - t0)))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail("the harness did not finish in time", 1)
    if code != 0 or not os.path.exists(rfile):
        shutil.rmtree(work, ignore_errors=True)
        fail(f"the harness exited with code {code}", 1)
    result = json.load(open(rfile))
    if workload == "analytics_mix" and result["failed"] == 0:
        bad = oracle_check(in_dir, os.path.join(out_dir, "oracle_sql.json"),
                           result["row_counts"])
        result["mismatches"] += bad
        result["correct"] = result["correct"] and not bad
    shutil.rmtree(work, ignore_errors=True)
    return result


def report(workload, result):
    for m in result["mismatches"]:
        log(f"perfbench: MISMATCH {m}")
    for f in result["failures"]:
        log(f"perfbench: FAILED {f}")
    log(f"perfbench: {workload}: {result['passes']} pass(es), {result['units']} units")
    for call, secs in result["call_s"].items():
        jobs = result.get("call_jobs", {}).get(call)
        log(f"perfbench:   {call}: {' '.join(f'{x:.2f}' for x in secs)} s"
            + (f", {jobs} jobs" if jobs is not None else ""))
    for k, v in result["metrics"].items():
        print(f"{workload} {k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"host": result["host"], "unit_s": result["unit_s"]}))
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))


# ------------------------------------------------------------------ steadiness

def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def steady(n, workloads, seconds, seed0):
    for w in workloads:
        untraced = []
        for seed in range(seed0, seed0 + n):
            untraced.append(run_once(w, seed, seconds, 0))
        traced = [run_once(w, seed0, seconds, 1) for _ in range(2)]
        print(f"== {w}: {n} untraced runs (seeds {seed0}..{seed0 + n - 1}), "
              f"2 traced runs (seed {seed0})")
        ok = all(r["correct"] for r in untraced + traced)
        print(f"   all outputs correct: {ok}")
        for k in END_TO_END:
            xs = [r["metrics"][k]["value"] for r in untraced]
            q1, med, q3 = quartiles(xs)
            print(f"   {k:14s} median {med:10.4f}  q1 {q1:10.4f}  q3 {q3:10.4f}  "
                  f"spread {(q3 - q1) / med if med else float('nan'):.3f}")
        pass_s = statistics.median(statistics.median(r["pass_s"]) for r in untraced)
        tr_s = statistics.median(r["metrics"]["trace.pass_s"]["value"] for r in traced)
        print(f"   tracing overhead: traced pass {tr_s:.3f} s - untraced pass "
              f"{pass_s:.3f} s = {tr_s - pass_s:+.3f} s")
        a, b = (r["metrics"] for r in traced)
        differ = [f"{k} ({a[k]['value']:g} vs {b[k]['value']:g})" for k in a
                  if a[k]["unit"] in ("count", "bytes") and a[k]["value"] != b[k]["value"]]
        rows = [r.get("row_counts", {}) for r in traced]
        differ += [f"{q} rows ({n} vs {rows[1].get(q)})" for q, n in rows[0].items()
                   if rows[1].get(q) != n]
        print("   counts that differ between the traced runs: " +
              (", ".join(differ) if differ else "none"))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--steady", type=int, metavar="N")
    a = ap.parse_args()
    workloads = [a.workload] if a.workload else list(WORKLOADS)
    if a.steady:
        steady(a.steady, workloads, a.seconds, a.seed)
        return
    if a.workload:
        result = run_once(a.workload, a.seed, a.seconds, a.trace)
        report(a.workload, result)
        sys.exit(0 if result["correct"] and result["failed"] == 0 else 1)
    # no --workload: every workload, untraced then traced, with the overhead
    ok = True
    for w in workloads:
        plain = run_once(w, a.seed, a.seconds, 0)
        traced = run_once(w, a.seed, a.seconds, 1)
        for r in (plain, traced):
            report(w, r)
            ok = ok and r["correct"] and r["failed"] == 0
        over = traced["metrics"]["trace.pass_s"]["value"] - statistics.median(plain["pass_s"])
        print(f"{w} tracing_overhead_s = {over:+.3f} s")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
