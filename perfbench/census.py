#!/usr/bin/env python3
"""One-time census of the whole query catalog, the measurement the
workload selection rules in workloads.py were frozen from.

For each scale factor (sf0.001 and sf0.1, tables from the default seed)
it runs every catalog query twice in one traced JVM (pass 1 cold, pass 2
warm), checks every result against its oracle, and records per query:
cold and warm wall time, whether it started a streaming query, how many
bytes its tasks wrote to files, how long its DuckDB oracle took, and
whether it passed.

It then runs the catalog once more at sf0.001 on each of EXTRA_SEEDS and
records which queries fail on those tables: tiny tables leave some groups
empty, and a query that fails on them must not be drawn either.

Usage: python3 perfbench/census.py [out.json]   (about 90 minutes on 4 cpus)
"""
import json
import os
import shutil
import sys

import run
import workloads

EXTRA_SEEDS = (2,)


def census_at(sf, seed, timed=True):
    """Per-query census at (sf, seed). Untimed, it only runs and checks
    each query once."""
    data = run.data_dir(sf, seed)
    run_dir = os.path.join(run.WORK, f"census-sf{sf}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    check = os.path.join(run_dir, "check")
    passes = 2 if timed else 0
    _, art = run.launch(run_dir, data,
                        ["workload=census", "queries=ALL", f"warm={0 if timed else 1}",
                         f"passes={passes}", "seconds=1e9", f"trace={int(timed)}", f"check={check}",
                         f"spans={run_dir}/spans.jsonl"],
                        timeout=4 * 3600)
    names = sorted(art["queries"])
    failures, rows, oracle_s = run.check_outputs(data, check, names)
    out = {}
    for n in names:
        q, t = art["queries"][n], art.get("trace_queries", {}).get(n, {})
        wall = q["wall_s"] + [None, None]
        out[n] = {"cold_s": wall[0], "warm_s": wall[1], "ok": q["ok"] and n not in failures,
                  "failure": failures.get(n, q["error"]), "rows_out": rows.get(n),
                  "oracle_s": oracle_s.get(n),
                  "streaming_batches": t.get("batches", 0.0) / max(1, passes),
                  "output_mb": t.get("output_mb", 0.0) / max(1, passes),
                  "jobs": t.get("jobs", 0.0) / max(1, passes)}
    shutil.rmtree(run_dir, ignore_errors=True)
    return out


def main():
    path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(run.HERE, "census.json")
    run.build()
    run.HEAP = ["-Xmx6g"]
    result = {"seed": workloads.DEFAULT_SEED, "cpus": run.cpu_count(), "heap": run.HEAP}
    for sf in (0.001, 0.1):
        result[f"sf{sf}"] = census_at(sf, workloads.DEFAULT_SEED)
        run.log(f"census sf{sf} done")
        with open(path, "w") as f:
            json.dump(result, f, indent=1, sort_keys=True)
    result["sf0.001_failed_on_seed"] = {}
    for seed in EXTRA_SEEDS:
        c = census_at(0.001, seed, timed=False)
        result["sf0.001_failed_on_seed"][str(seed)] = {n: q["failure"] for n, q in c.items() if not q["ok"]}
        with open(path, "w") as f:
            json.dump(result, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
