#!/usr/bin/env python3
"""Self-test of the benchmark (about five minutes on 4 cpus).

Usage: python3 perfbench/selftest.py

1. Runs every workload on a tiny sample (sf0.001, two queries) and
   asserts that the last stdout line is the result object and that it
   names every end-to-end metric of BENCHMARK.json with its unit; runs
   one workload traced and asserts the same for every per-layer metric
   and that the span file was written.
2. Asserts that the rules still draw the query lists recorded in
   workloads.DEFAULT_DRAWS.
3. Writes one query's result, checks that it passes the oracle compare,
   then corrupts one cell and checks that the compare fails.
4. Asserts that a failure of a recorded defect leaves a run correct and
   that any other failure does not.
"""
import json
import os
import shutil
import subprocess
import sys

import pandas as pd

import run
import workloads

SPEC = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))


def bench(workload, trace):
    cmd = [sys.executable, os.path.join(run.HERE, "run.py"), "--workload", workload,
           "--seed", str(workloads.DEFAULT_SEED), "--seconds", "1", "--trace", str(trace), "--tiny"]
    p = subprocess.run(cmd, cwd=run.ROOT, stdout=subprocess.PIPE, text=True, timeout=600)
    assert p.returncode == 0, f"{workload}: exit {p.returncode}"
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}, out.keys()
    assert out["correct"] and out["failed"] == 0 and out["attempted"] == 2, out
    want = SPEC["per_layer" if trace else "end_to_end"]
    for m in want:
        got = out["metrics"].get(m["name"])
        assert got is not None, f"{workload}: metric {m['name']} missing"
        assert got["unit"] == m["unit"], f"{m['name']}: unit {got['unit']} != {m['unit']}"
        assert isinstance(got["value"], (int, float)), f"{m['name']}: {got['value']!r}"
    assert set(out["metrics"]) == {m["name"] for m in want}, set(out["metrics"]) ^ {m["name"] for m in want}
    print(f"ok   {workload} trace={trace}: {len(want)} metrics with units")


def default_draws():
    for name, queries in workloads.DEFAULT_DRAWS.items():
        got = workloads.draw(name)
        assert got == queries, f"{name}: the frozen list changed: {got}"
    print("ok   the rules still draw the recorded query lists")


def corrupted_result_fails():
    query = "q01_agg_pricing_summary"
    data = run.data_dir(0.001, workloads.DEFAULT_SEED)
    run_dir = os.path.join(run.WORK, "selftest")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    check = os.path.join(run_dir, "check")
    try:
        run.launch(run_dir, data, [f"queries={query}", f"check={check}", "trace=0"])
        failures = run.check_outputs(data, check, [query])[0]
        assert not failures, failures
        parts = sorted(os.path.join(check, query, f) for f in os.listdir(os.path.join(check, query))
                       if f.endswith(".parquet"))
        path = next(p for p in parts if len(pd.read_parquet(p)))
        df = pd.read_parquet(path)
        col = next(c for c in df.columns if pd.api.types.is_float_dtype(df[c]))
        df.loc[0, col] = df.loc[0, col] + 1.0
        df.to_parquet(path, index=False)
        failures = run.check_outputs(data, check, [query])[0]
        assert query in failures, "a corrupted result passed the output check"
        print(f"ok   corrupted {query}.{col} fails the check: {failures[query]}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def recorded_defects_only():
    assert run.correct({"q431_stream_left_outer": "wrong count"}, [])
    assert not run.correct({"q01_agg_pricing_summary": "wrong count"}, [])
    assert not run.correct({}, ["events: FAIL"])
    print("ok   only a recorded defect may fail in a correct run")


if __name__ == "__main__":
    recorded_defects_only()
    default_draws()
    corrupted_result_fails()
    for w in sorted(workloads.WORKLOADS):
        bench(w, 0)
    bench("stateful_writes", 1)
    print("selftest passed")
