#!/usr/bin/env python3
"""Benchmark for the graft engine: one workload, measured end to end.

Usage (from the repository root):

    python3 perfbench/run.py --workload fixed_cost --seed 1 --seconds 3 --trace 0

The first run builds the engine and the harness from source with sbt.
Each run then generates its tables from the seed, runs the workload's
frozen query list as a closed loop (one client, each query starts when the
previous one ends) in a fresh JVM, checks every result against its DuckDB
oracle and prints one JSON line last on stdout.

With --trace 0 the line carries the end-to-end metrics of an untraced
run. With --trace 1 it carries the per-layer metrics of a traced run plus
the tracing overhead: traced wall time minus the wall time of an untraced
run of the same workload, seed and build (the recorded one, or a fresh
one). Full artifacts, spans included, go to perfbench/.work/artifacts/.
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
import threading
import time

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
LAUNCH = os.path.join(HERE, "target", "launch.txt")
STAMP = os.path.join(HERE, "target", "launch.stamp")
# A fixed heap: a growing one made GC, and with it every timing, vary
# from run to run by about twice as much.
HEAP = ["-Xms3g", "-Xmx3g"]
RUN_TIMEOUT_S = 150
sys.path.insert(0, HERE)
import datagen  # noqa: E402
import workloads  # noqa: E402

TABLES = list(datagen.row_counts(1.0))


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def _source_stamp():
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    for base in (ROOT, HERE):
        files = [os.path.join(base, "build.sbt"), os.path.join(base, "project", "build.properties")]
        for d, _, names in sorted(os.walk(os.path.join(base, "src", "main"))):
            files += [os.path.join(d, f) for f in sorted(names)]
        for f in files:
            st = os.stat(f)
            h.update(f"{f}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()


def build():
    """Compile engine and harness with sbt unless the last build is current."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or not os.path.isdir(
            os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: the engine sources (build.sbt, src/main/scala) are missing")
    stamp = _source_stamp()
    if os.path.isfile(LAUNCH) and os.path.isfile(STAMP) and open(STAMP).read() == stamp:
        return
    log("building engine and harness with sbt")
    t0 = time.time()
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "launcher"], cwd=HERE,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: sbt build failed ({r.returncode})")
    with open(STAMP, "w") as f:
        f.write(stamp)
    log(f"build took {time.time() - t0:.1f} s")


def java_command(args):
    cp, opts = [], []
    for line in open(LAUNCH):
        kind, _, val = line.rstrip("\n").partition(" ")
        (cp if kind == "cp" else opts).append(val)
    opts = [o for o in opts if not o.startswith("-Xmx")]
    return (["java"] + HEAP + ["-XX:-UsePerfData",
             "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")] + opts +
            ["-cp", os.pathsep.join(cp), "perfbench.Harness"] + args)


# ---------------------------------------------------------------- data

def data_dir(sf, seed):
    """Tables for (sf, seed), generated once and kept for later runs."""
    root = os.path.join(WORK, "data")
    d = os.path.join(root, f"sf{sf}-s{seed}")
    if not os.path.isfile(os.path.join(d, "embeddings.parquet")):
        os.makedirs(root, exist_ok=True)
        # keep the cache small: the six most recently used table sets
        sets = sorted((os.path.join(root, x) for x in os.listdir(root)), key=os.path.getmtime)
        for old in sets[:-5]:
            shutil.rmtree(old, ignore_errors=True)
        datagen.generate(d, sf, seed)
    os.utime(d)
    return d


# ---------------------------------------------------------------- host

def cpu_count():
    return min(4, len(os.sched_getaffinity(0)))


def proc_stat():
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return vals  # user nice system idle iowait irq softirq steal


def steal_pct(a, b):
    """CPU steal share between two /proc/stat samples, as tools/steal_probe.sh computes it."""
    d = [y - x for x, y in zip(a, b)]
    total = sum(d)
    return 100.0 * d[7] / total if total else 0.0


def calibration_s():
    """Best of three timings of a fixed CPU-bound loop."""
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        x = 0
        for i in range(1_000_000):
            x += i * i
        best = min(best, time.perf_counter() - t)
    return best


# ---------------------------------------------------------------- JVM runs

def launch(run_dir, data, extra, timeout=RUN_TIMEOUT_S):
    """Run the harness once in a fresh JVM. Returns (seconds from process
    start to session ready, artifact dict)."""
    for sub in ("tmp", "local"):
        shutil.rmtree(os.path.join(run_dir, sub), ignore_errors=True)
        os.makedirs(os.path.join(run_dir, sub))
    out = os.path.join(run_dir, "artifact.json")
    args = [f"data={data}", f"cpus={cpu_count()}", f"out={out}",
            f"warehouse={os.path.join(run_dir, 'warehouse')}"] + extra
    cmd = java_command(args)
    cmd.insert(1, f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
    for k in ("SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_CODEGEN_CACHE", "SPARK_GRAFT_STREAM_SHUFFLE"):
        env.pop(k, None)
    t0 = time.perf_counter()
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True, start_new_session=True)
    ready = None
    watchdog = threading.Timer(timeout, os.killpg, (proc.pid, signal.SIGKILL))
    watchdog.start()
    try:
        for line in proc.stdout:
            if line.strip() == "PERFBENCH_READY" and ready is None:
                ready = time.perf_counter() - t0
        rc = proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if rc != 0 or ready is None:
        raise SystemExit(f"perfbench: harness run failed ({rc})")
    with open(out) as f:
        return ready, json.load(f)


# ---------------------------------------------------------------- output check

def check_outputs(data, out_dir, names):
    """Compare each query's result with its DuckDB oracle by the strict
    rule of tools/check_oracle.py (its strict_compare). Returns
    ({name: failure}, {name: result rows}, {name: oracle seconds})."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracle import strict_compare

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    failures, rows, oracle_s = {}, {}, {}
    for name in names:
        path = os.path.join(out_dir, name)
        try:
            got = pd.read_parquet(path)
            if "__graft_error" in got.columns:
                failures[name] = "query threw: " + str(got["__graft_error"].iloc[0])
                continue
            rows[name] = len(got)
            if name not in oracles:
                failures[name] = "no oracle"
                continue
            t = time.perf_counter()
            want = con.sql(oracles[name]).df()
            oracle_s[name] = time.perf_counter() - t
            ok, msg = strict_compare(path, want)
            if not ok:
                failures[name] = msg
        except Exception as e:  # unreadable result or oracle error
            failures[name] = f"{type(e).__name__}: {e}"
    return failures, rows, oracle_s


# ---------------------------------------------------------------- metrics

def end_to_end(art, ready_s, failed, attempted):
    per_query = [t for q in art["queries"].values() for t in q["wall_s"]]
    wall = statistics.median(art["pass_wall_s"])
    return {
        "setup_s": (ready_s, "s"),
        "wall_s": (wall, "s"),
        "query_p50_s": (statistics.median(per_query), "s"),
        "rows_per_s": (art["rows_read"] / wall, "1/s"),
        "ok_frac": (1.0 - failed / attempted, "ratio"),
        "disk_written_mb": (art["disk_written_mb"], "MB"),
    }


KERNELS = ["logit", "jaro_winkler", "hilbert", "minhash", "simhash", "dot"]


def per_layer(art, rows_out, untraced_wall):
    """Per-layer metrics of a traced run, per measured pass."""
    passes = art["passes"]
    tq = art["trace_queries"].values()
    tot = lambda k: sum(q.get(k, 0.0) for q in tq) / passes
    wall = statistics.median(art["pass_wall_s"])
    setup = art["setup"]
    out_rows = sum(rows_out.values()) or 1
    run_s = tot("task_run_s")
    m = {
        "setup.session_s": (setup["session_s"], "s"),
        "setup.contract_s": (setup["contract_s"], "s"),
        "setup.bucketing_s": (setup["bucketing_s"], "s"),
        "sources.rows_read": (tot("rows_read"), "count"),
        "sources.bytes_read_mb": (tot("bytes_read_mb"), "MB"),
        "sources.rows_read_per_row_out": (tot("rows_read") / out_rows, "ratio"),
        "queries.build_s": (sum(sum(q["build_s"]) for q in art["queries"].values()) / passes, "s"),
        "queries.build_jobs": (tot("build_jobs"), "count"),
        "plans.analysis_s": (tot("analysis_s"), "s"),
        "plans.optimization_s": (tot("optimization_s"), "s"),
        "plans.planning_s": (tot("planning_s"), "s"),
        "plans.qe_count": (tot("qe_count"), "count"),
        "codegen.compile_s": (tot("compile_s"), "s"),
        "codegen.gen_s": (tot("gen_s"), "s"),
        "codegen.compiles": (tot("compiles"), "count"),
        "sched.jobs": (tot("jobs"), "count"),
        "sched.stages": (tot("stages"), "count"),
        "sched.tasks": (tot("tasks"), "count"),
        "sched.scheduler_delay_s": (tot("scheduler_delay_s"), "s"),
        "sched.single_task_stages": (tot("single_task_stages"), "count"),
        "sched.single_task_stage_s": (tot("single_task_stage_s"), "s"),
        "sched.busy_ratio": (run_s / (wall * art["host"]["cpus"]), "ratio"),
        "exec.task_run_s": (run_s, "s"),
        "exec.task_cpu_s": (tot("task_cpu_s"), "s"),
        "exec.gc_s": (tot("gc_s"), "s"),
        "exec.shuffle_write_mb": (tot("shuffle_write_mb"), "MB"),
        "exec.shuffle_read_mb": (tot("shuffle_read_mb"), "MB"),
        "exec.spill_mb": (tot("spill_mb"), "MB"),
        "exec.output_mb": (tot("output_mb"), "MB"),
        "exec.failed_tasks": (tot("failed_tasks"), "count"),
        "jvm.peak_rss_mb": (art["peak_rss_mb"], "MB"),
        "operators.scratch_mb_end": (art["scratch_mb_end"], "MB"),
        "operators.scratch_mb_after_query":
            (tot("scratch_mb_after_query") / max(1, len(art["trace_queries"])), "MB"),
        "streaming.batches": (tot("batches"), "count"),
        "streaming.batch_s": (tot("batch_s"), "s"),
        "streaming.state_commit_s": (tot("state_commit_s"), "s"),
        "streaming.state_rows": (tot("state_rows"), "count"),
        "trace.overhead_s": (wall - untraced_wall, "s"),
        "trace.overhead_frac": ((wall - untraced_wall) / untraced_wall, "ratio"),
    }
    for k in KERNELS:
        m[f"functions.{k}.rows_per_s"] = (art["kernels"][k], "1/s")
    return m


def self_times(spans):
    """Per-layer self time: each span's duration minus the part of it its
    children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, end = 0, s["start_us"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_us"]):
            a, b = max(c["start_us"], end, s["start_us"]), min(c["end_us"], s["end_us"])
            if b > a:
                covered += b - a
                end = b
        out[s["layer"]] = out.get(s["layer"], 0) + max(0, s["end_us"] - s["start_us"] - covered) / 1e6
    return out


# ---------------------------------------------------------------- main

def correct(failures, contract_failures):
    """A run is correct when the data contract holds and every failed query
    is a recorded defect (workloads.known_defects()). A recorded defect
    still counts in `failed` and ok_frac."""
    return set(failures) <= set(workloads.known_defects()) and not contract_failures


def measure(workload, seconds, trace, run_dir, plan, data, check=True):
    """One measured JVM, traced or not. Returns (seconds from process start
    to session ready, artifact, failures, result rows)."""
    extra = [f"workload={workload}", f"queries={','.join(plan['queries'])}",
             f"warm={plan['warm']}", f"seconds={seconds}", f"trace={int(trace)}",
             f"kernels={int(trace)}", f"spans={os.path.join(run_dir, 'spans.jsonl')}"]
    if plan["warm"] == 0:
        extra.append("passes=1")  # a cold pass happens once
    out = os.path.join(run_dir, "check")
    shutil.rmtree(out, ignore_errors=True)
    if check:
        extra.append(f"check={out}")
    t = time.perf_counter()
    ready, art = launch(run_dir, data, extra)
    t_check = time.perf_counter()
    failures, rows, _ = check_outputs(data, out, plan["queries"]) if check else ({}, {}, {})
    log(f"{'traced' if trace else 'untraced'} JVM {t_check - t:.1f} s (ready at {ready:.1f} s), "
        f"output check {time.perf_counter() - t_check:.1f} s")
    for name, q in art["queries"].items():
        if not q["ok"]:
            failures.setdefault(name, q["error"])
    return ready, art, failures, rows


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=workloads.DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="self-test size: sf0.001 and two queries, whatever the workload")
    a = ap.parse_args(argv)
    # a terminated run still stops its JVM (launch kills it on the way out)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    build()
    stat0, calib = proc_stat(), calibration_s()
    plan = workloads.plan(a.workload, tiny=a.tiny)
    t = time.perf_counter()
    data = data_dir(plan["sf"], a.seed)
    log(f"{a.workload}: {len(plan['queries'])} queries at sf{plan['sf']} "
        f"(tables ready in {time.perf_counter() - t:.1f} s)")
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    art_dir = os.path.join(WORK, "artifacts")
    os.makedirs(art_dir, exist_ok=True)
    name = f"{a.workload}-s{a.seed}"
    try:
        # the traced run's reference is an untraced run of the same
        # workload, seed and build: the one recorded earlier, or a fresh one
        # whose outputs are then checked in the traced JVM instead
        ref = os.path.join(art_dir, f"{name}.json")
        reuse = a.trace and os.path.isfile(ref)
        if reuse:
            with open(ref) as f:
                art = json.load(f)
            w = art["workload"]
            reuse = (art.get("build") == open(STAMP).read() and w["seconds"] == a.seconds
                     and w["queries"] == plan["queries"] and w["sf"] == plan["sf"])
        if reuse:
            ready, failures, rows = art["workload"]["ready_s"], {}, {}
            result = {k: (v["value"], v["unit"]) for k, v in art["metrics"].items()}
        else:
            ready, art, failures, rows = measure(a.workload, a.seconds, False, run_dir, plan, data,
                                                 check=not a.trace)
            result = end_to_end(art, ready, len(failures), len(plan["queries"]))
        if a.trace:
            untraced, e2e = statistics.median(art["pass_wall_s"]), result
            _, art, t_failures, rows = measure(a.workload, a.seconds, True, run_dir, plan, data)
            failures.update(t_failures)
            art["untraced_metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
            with open(os.path.join(run_dir, "spans.jsonl")) as f:
                spans = [json.loads(line) for line in f if line.strip()]
            art["self_time_s"] = self_times(spans)
            shutil.copy(os.path.join(run_dir, "spans.jsonl"), os.path.join(art_dir, f"{name}-spans.jsonl"))
            result = per_layer(art, rows, untraced)
            name += "-trace"
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    art["host"].update({"seed": a.seed, "heap": " ".join(HEAP), "steal_pct": steal_pct(stat0, proc_stat()),
                        "calibration_s": calib, "nproc": len(os.sched_getaffinity(0))})
    art["workload"] = {"name": a.workload, **plan, "ready_s": ready, "seconds": a.seconds}
    art["build"] = open(STAMP).read()
    art["failures"] = failures
    art["result_rows"] = rows
    art["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in result.items()}
    with open(os.path.join(art_dir, f"{name}.json"), "w") as f:
        json.dump(art, f, indent=1, sort_keys=True)
    h = art["host"]
    log(f"host: cpus={h['cpus']} shuffle={h['shuffle_partitions']} heap={h['heap']} seed={a.seed} "
        f"steal={h['steal_pct']:.1f}% calibration={calib:.3f}s; {art['passes']} measured passes")
    for k, v in sorted(failures.items()):
        log(f"FAIL {k}: {v}" + (" (recorded defect)" if k in workloads.known_defects() else ""))
    print(json.dumps({"correct": correct(failures, art["contract_failures"]),
                      "attempted": len(plan["queries"]), "failed": len(failures),
                      "metrics": art["metrics"]}))


if __name__ == "__main__":
    main()
