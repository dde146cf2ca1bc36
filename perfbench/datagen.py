"""Seeded generator for the ten tables the query catalog reads.

The tables mirror the engine's documented fixture schemas (FIXTURES.md
section B): the same column names, physical types (int32/int64 keys,
timestamp[us] dates, list<float> embeddings), value domains, row counts
per scale factor and one parquet row group per table. Only the values
change with the seed, so every seed exercises the same plans on the
same volume of data.

Usage: python3 perfbench/datagen.py <out_dir> <scale_factor> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()

ORDER_DAY0 = np.datetime64("1995-01-01", "D")
ORDER_DAYS = 2404          # 1995-01-01 .. 2001-08-01
EVENT_T0 = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_SPAN_US = 30 * 86400 * 10**6


def row_counts(sf):
    """Rows per table at scale factor `sf` (the fixture sizing rule)."""
    n = lambda base, floor=1: max(floor, int(round(base * sf)))
    return {
        "region": 5, "nation": 25,
        "customer": n(150_000), "supplier": n(10_000), "part": n(200_000),
        "orders": n(1_500_000), "lineitem": n(6_000_000),
        "events": n(1_000_000), "documents": n(50_000, 500),
        "embeddings": n(20_000, 500),
    }


def _money(rng, lo, hi, size):
    return np.round(rng.uniform(lo, hi, size), 2)


def _pick(rng, values, size, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), size, p=p)],
                    pa.string())


def _keys(n, width, prefix):
    return pa.array([f"{prefix}#{i:0{width}d}" for i in range(n)], pa.string())


def _days(rng, size):
    d = ORDER_DAY0 + rng.integers(0, ORDER_DAYS + 1, size).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def tables(sf, seed):
    """Yield (name, pyarrow.Table) for every table at `sf` from `seed`."""
    rows = row_counts(sf)
    rng = np.random.default_rng(seed)
    i32, i64 = pa.int32(), pa.int64()
    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS)})
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    nc, ns, np_ = rows["customer"], rows["supplier"], rows["part"]
    yield "customer", pa.table({
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": _keys(nc, 9, "Customer"),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": _pick(rng, SEGMENTS, nc)})
    yield "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": _keys(ns, 9, "Supplier"),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    yield "part", pa.table({
        "p_partkey": pa.array(np.arange(np_), i64),
        "p_name": _pick(rng, names, np_),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], np_),
        "p_type": _pick(rng, PTYPES, np_),
        "p_size": pa.array(rng.integers(1, 51, np_), i32),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 1)})
    no, nl = rows["orders"], rows["lineitem"]
    yield "orders", pa.table({
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, no),
        "o_orderpriority": _pick(rng, PRIORITIES, no)})
    yield "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, np_, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": np.round(rng.uniform(0.0, 0.1, nl), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, nl), 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _days(rng, nl)})
    ne = rows["events"]
    users = max(15, int(round(15_000 * sf)))
    ts = EVENT_T0 + np.sort(rng.integers(0, EVENT_SPAN_US, ne)).astype("timedelta64[us]")
    yield "events", pa.table({
        "event_id": pa.array(np.arange(ne), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, ne), i64),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)])})
    nd = rows["documents"]
    texts = []
    for i in range(nd):
        # one document in twenty is a near-duplicate: an earlier text plus
        # a marker word, which the dedup and similarity queries look for
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            words = np.asarray(WORDS, dtype=object)[rng.integers(0, len(WORDS), rng.integers(10, 101))]
            texts.append(" ".join(words))
    yield "documents", pa.table({
        "doc_id": pa.array(np.arange(nd), i64),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, nd, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(nd)]),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    nv = rows["embeddings"]
    vecs = rng.standard_normal((nv, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    yield "embeddings", pa.table({
        "vec_id": pa.array(np.arange(nv), i64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), 64)
                     .cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), i32)})


def generate(out_dir, sf, seed):
    """Write every table to `out_dir`/<name>.parquet, one row group each.

    Files appear atomically (write to a temporary name, then rename) so
    an interrupted run never leaves a truncated table behind.
    """
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf, seed):
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path + ".tmp", row_group_size=max(1, table.num_rows))
        os.replace(path + ".tmp", path)


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
