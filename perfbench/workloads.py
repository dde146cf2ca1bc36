"""The benchmark's workloads: selection rules, sizes and frozen query lists.

Every rule is applied to census.json, the one-time measurement made by
census.py: each catalog query run cold then warm, at sf0.001 and sf0.1, on
the default-seed tables, on 4 cpus. A stratified draw on the default seed
then picks each workload's queries. Rules, census and draw are all frozen,
so a later change to the engine cannot move a query into or out of a
workload, and every run of a workload runs the same queries.

The benchmark's --seed generates the tables: every seed gives the same
schemas, sizes and value distributions with other values. The engine
sees the tables and the query list, and never the seed. A claim made on
some seeds is validated on HELDOUT_SEED.

A query that failed its oracle check in the census stays in the pools:
if drawn, it runs and its failure counts in `failed` and `ok_frac`, so a
fix shows as a gain. known_defects() names those queries with the census
reason; a failure of any other query makes a run incorrect.
"""
import functools
import json
import os
import random

DEFAULT_SEED = 1
# Validate a claimed gain on this seed too. It was never used to tune
# the benchmark.
HELDOUT_SEED = 7919

CENSUS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "census.json")


@functools.lru_cache(maxsize=None)
def census():
    """(per-query census at sf0.001, at sf0.1)."""
    with open(CENSUS_PATH) as f:
        c = json.load(f)
    return c["sf0.001"], c["sf0.1"]


@functools.lru_cache(maxsize=None)
def known_defects():
    """{query: census failure} for every query that failed its oracle
    check in the census, at either scale or on an extra census seed."""
    with open(CENSUS_PATH) as f:
        c = json.load(f)
    out = {}
    for sf in ("sf0.001", "sf0.1"):
        for n, q in c[sf].items():
            if not q["ok"]:
                out.setdefault(n, f"{sf}: {q['failure']}")
    for seed, by_name in c["sf0.001_failed_on_seed"].items():
        for n, why in by_name.items():
            out.setdefault(n, f"sf0.001 seed {seed}: {why}")
    return out


# A drawn query must fit a run: it finished in the census within a few
# seconds at the workload's scale (cold for fixed_cost, warm otherwise),
# and DuckDB answers its oracle within ORACLE_CAP_S (the output check of
# one slower query would outlast the whole run). A query that threw in
# the census has no time and is not drawn.
ORACLE_CAP_S = 1.0


def _fits(q, key, cap_s):
    return (q[key] is not None and q[key] <= cap_s
            and q["oracle_s"] is not None and q["oracle_s"] <= ORACLE_CAP_S)


def _fixed_cost_pool():
    small, _ = census()
    return sorted(n for n in small if _fits(small[n], "cold_s", 1.5))


def _data_scaling_pool():
    # data work is at least half of the sf0.1 time: t(sf0.1) >= 2 t(sf0.001)
    small, large = census()
    return sorted(n for n in small if _fits(large[n], "warm_s", 1.5) and small[n]["warm_s"] is not None
                  and large[n]["warm_s"] >= 2 * small[n]["warm_s"])


# The write paths stateful_writes always runs, whatever the draw.
STATEFUL_WRITES_REQUIRED = [
    # the catalog's one Merge.upsert query, the CDC write path (a pure
    # dataframe rewrite, so the census sees no file write of its own)
    "q125_merge_upsert",
    # a left-outer stream-stream join over five micro-batches, with a
    # checkpoint and an exactly-once file sink; it also returns a wrong
    # count at sf0.1 on every seed tried, a recorded defect that keeps
    # ok_frac below 1
    "q431_stream_left_outer",
    # the cheapest query that writes through Materialize.spillRelease and
    # reads the spill back
    "q392_zonemap_skipping",
]


def _stateful_writes_pool():
    # started a streaming query, or its tasks wrote files (Materialize
    # spills, Layout rewrites, checkpoints); the required queries are
    # added to the draw
    _, large = census()
    return sorted(n for n in large if n not in STATEFUL_WRITES_REQUIRED and _fits(large[n], "warm_s", 2.0)
                  and (large[n]["streaming_batches"] > 0 or large[n]["output_mb"] > 0))


WORKLOADS = {
    # Planning, codegen compile, job and stage scheduling, and eager jobs
    # issued while queries are built: at sf0.001 data work is about zero,
    # so this is where "fewer jobs, stages, compiles" shows. One cold pass
    # in a fresh JVM. A faster kernel should show no change here.
    "fixed_cost": {"sf": 0.001, "warm": 0, "size": 10,
                   "pool": _fixed_cost_pool, "cost": lambda n: census()[0][n]["cold_s"]},
    # Scan, exchange, kernels and aggregation: queries whose time grows
    # with data, measured warm (after one unmeasured pass), so compiled
    # code is cached and a fixed-cost cut should barely move it.
    "data_scaling": {"sf": 0.1, "warm": 1, "size": 6,
                     "pool": _data_scaling_pool, "cost": lambda n: census()[1][n]["warm_s"]},
    # The same scheduler and disk layers used for writes: state-store
    # commits, checkpoints and spill write-back, measured warm. A change
    # that trades writes for reads or cuts micro-batch overhead shows here
    # and in disk_written_mb.
    "stateful_writes": {"sf": 0.1, "warm": 1, "size": 3, "required": STATEFUL_WRITES_REQUIRED,
                        "pool": _stateful_writes_pool, "cost": lambda n: census()[1][n]["warm_s"]},
}


def strata(names, cost, k):
    """Split names, ordered by cost, into k consecutive strata of equal count."""
    ordered = sorted(names, key=lambda n: (cost(n), n))
    return [ordered[i * len(ordered) // k:(i + 1) * len(ordered) // k] for i in range(k)]


def draw(name, seed=DEFAULT_SEED):
    """The workload's required queries plus one query from each cost
    stratum of its pool, in name order. The draw is antithetic: one
    uniform u from `seed` picks the member at rank u of every even stratum
    and at rank 1 - u of every odd one, so a cheap pick in one stratum
    meets a dear pick in the next."""
    w = WORKLOADS[name]
    u = random.Random(f"{name}:{seed}").random()
    pool = w["pool"]()
    picks = [s[min(len(s) - 1, int((u if i % 2 == 0 else 1 - u) * len(s)))]
             for i, s in enumerate(strata(pool, w["cost"], min(w["size"], len(pool))))]
    return sorted(picks + w.get("required", []))


def plan(name, tiny=False):
    """The run plan of a workload: its frozen query list (the default-seed
    draw), scale and unmeasured passes. A cold workload (no unmeasured
    pass) measures one pass; the others repeat measured passes until
    --seconds have passed. `tiny` is the self-test size: sf0.001 and two
    queries."""
    w = WORKLOADS[name]
    p = {"sf": w["sf"], "warm": w["warm"], "queries": draw(name)}
    if tiny:
        p.update(sf=0.001, queries=p["queries"][:2])
    return p


# The frozen query lists, as draw() yields them; the self-test keeps this
# record honest.
DEFAULT_DRAWS = {
    "fixed_cost": [
        "q142_sql_lateral",
        "q163_corrupt_ingest",
        "q200_kmv_distinct",
        "q21_window_running",
        "q303_bootstrap_ci",
        "q308_conformal",
        "q395_bucket_carryover",
        "q458_table_fingerprint",
        "q66_train_test_split",
        "q94_sql_q22_shape",
    ],
    "data_scaling": [
        "q111_quantile_filter",
        "q317_agreement_kappa",
        "q334_silhouette",
        "q339_flesch_bands",
        "q62_token_count",
        "q82_window_session",
    ],
    "stateful_writes": [
        "q125_merge_upsert",
        "q257_stream_window_agg",
        "q327_mmd_linear",
        "q392_zonemap_skipping",
        "q431_stream_left_outer",
        "q91_csv_roundtrip",
    ],
}
